from docstream import MIN_COPY_WORDS, make_stream


def test_same_seed_gives_byte_identical_batches():
    a = make_stream(7, 3, 20, 4)
    b = make_stream(7, 3, 20, 4)
    assert a.to_bytes() == b.to_bytes()
    assert make_stream(8, 3, 20, 4).to_bytes() != a.to_bytes()


def test_ids_arrive_in_order_and_copies_come_later():
    s = make_stream(3, 4, 25, 5)
    ids = [d for d, _ in s.docs()]
    assert ids == list(range(len(ids)))
    assert [len(b) for b in s.batches] == [25, 30, 30, 30]
    batch_of = {d: i for i, b in enumerate(s.batches) for d, _ in b}
    text = dict(s.docs())
    assert len(s.copies) == 3 * 5
    for copy, original in s.copies.items():
        assert copy > original
        assert batch_of[copy] > batch_of[original]
        # the original plus one appended word
        assert text[copy].rsplit(" ", 1)[0] == text[original]
        assert len(text[original].split()) >= MIN_COPY_WORDS

