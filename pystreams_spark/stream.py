"""``Stream``: the pystreams-flavored fluent facade (SURVEY.md §3.3).

The reference's programming model is a lazily-evaluated pipeline of
per-element transformations terminated by a reduction. Here every
intermediate method lowers IMMEDIATELY to DataFrame/Column operations, so
Catalyst sees the whole plan (pushdown, pruning, fusion via
WholeStageCodegen) — no custom execution anywhere.

Column-first contract (SURVEY.md §4.3): methods accept Column
expressions / SQL strings as the fast path. Raw Python callables are the
explicit slow path, routed through Arrow-batched pandas execution
(``map_batches`` / ``filter_udf``), never per-row pickled UDFs.

Laziness matches the reference: intermediate ops build the plan; terminal
ops (``sum/count/collect/reduce/foreach/...``) trigger execution.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ColumnOrName = "Column | str"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _expr(e: Column | str) -> Column:
    """SQL-string or Column → Column. Strings are parsed as expressions
    ('x * 2'), not column names, for map()-style call sites."""
    return F.expr(e) if isinstance(e, str) else e


class Stream:
    """Fluent pipeline over a DataFrame. ``Stream(df)`` or
    ``Stream.of(spark, iterable, schema)``."""

    def __init__(self, df: DataFrame):
        self.df = df

    # -- sources -----------------------------------------------------------
    @staticmethod
    def of(spark, data: Iterable[Any], schema=None) -> "Stream":
        """Stream(iterable) analog (small, driver-side data only)."""
        return Stream(spark.createDataFrame(data, schema=schema))

    @staticmethod
    def range(spark, n: int, partitions: int | None = None) -> "Stream":
        """Stream over 0..n-1 (column ``id``), distributed from the start."""
        return Stream(spark.range(0, n, numPartitions=partitions))

    @staticmethod
    def generate(spark, fn: Callable[[int], dict], n: int, schema, partitions: int | None = None) -> "Stream":
        """Stream(generator_fn, n) analog: fn(i) -> row dict, evaluated
        distributed — each partition materializes only its index range
        (nothing driver-side, unlike ``Stream.of``)."""
        import pandas as pd

        def gen(batches):
            for pdf in batches:
                yield pd.DataFrame([fn(int(i)) for i in pdf["id"]])

        return Stream(spark.range(0, n, numPartitions=partitions).mapInPandas(gen, schema))

    @staticmethod
    def iterate(spark, seed, fn: Callable, n: int, schema="value double") -> "Stream":
        """java.util.stream ``Stream.iterate(seed, f)`` limited to ``n``
        elements: [seed, f(seed), f(f(seed)), ...]. The recurrence is
        inherently sequential, so the chain is unfolded DRIVER-side
        (bounded n — seeds, schedules, configs) and parallelized from
        there; an unbounded distributed variant would be dishonest
        about the dependency structure."""
        vals, x = [], seed
        for _ in range(n):
            vals.append(x)
            x = fn(x)
        return Stream(
            spark.createDataFrame([(v,) for v in vals], schema)
        )

    # -- intermediate: element-wise (§2.B) ----------------------------------
    def map(self, *exprs: Column | str, **named: Column | str) -> "Stream":
        """1→1 transform via Column algebra. Positional exprs replace the
        projection; keyword args add/replace named columns."""
        if exprs and named:
            raise ValueError("use either positional exprs or named columns")
        if exprs:
            return Stream(self.df.select(*[_expr(e) for e in exprs]))
        out = self.df
        for name, e in named.items():
            out = out.withColumn(name, _expr(e))
        return Stream(out)

    def select(self, *cols: Column | str) -> "Stream":
        return Stream(self.df.select(*cols))

    def filter(self, predicate: Column | str) -> "Stream":
        """Keep rows where the Column/SQL predicate holds — stays in
        Catalyst, so it pushes down into the scan."""
        return Stream(self.df.filter(predicate))

    where = filter

    def flatmap(self, array_expr: Column | str, alias: str = "value") -> "Stream":
        """1→N: evaluate an array-typed expression and explode it."""
        return Stream(self.df.select(F.explode(_expr(array_expr)).alias(alias)))

    def flatmap_with(self, array_expr: Column | str, alias: str, keep: Sequence[str]) -> "Stream":
        """Explode while keeping carry-along columns."""
        return Stream(
            self.df.select(*keep, F.explode(_expr(array_expr)).alias(alias))
        )

    def peek(self, name: str, *aggs: Column) -> "Stream":
        """Side-effect-free observation point (java Stream.peek analog):
        registers named metrics collected during the next action."""
        return Stream(self.df.observe(name, *aggs))

    def peek_observed(self, *aggs: Column) -> "tuple[Stream, Any]":
        """Observation-handle variant of peek: returns (stream, handle);
        ``handle.get`` yields the metric dict after the next action —
        per-pipeline counters without a second pass over the data."""
        from pyspark.sql import Observation

        ob = Observation()
        return Stream(self.df.observe(ob, *aggs)), ob

    def map_batches(self, fn: Callable, schema) -> "Stream":
        """Raw-callable slow path: fn(iter[pd.DataFrame]) -> iter[pd.DataFrame]
        over Arrow batches (mapInPandas). Use only when Column algebra
        can't express the transform."""
        return Stream(self.df.mapInPandas(fn, schema))

    def map_rows(self, fn: Callable, schema) -> "Stream":
        """Per-row Python callable adapted onto Arrow batches: fn(row dict)
        -> row dict. Still batch-transferred; the per-row Python loop is
        the price of an opaque lambda (SURVEY §4.3)."""

        def runner(batches):
            for pdf in batches:
                rows = [fn(r) for r in pdf.to_dict("records")]
                import pandas as pd

                yield pd.DataFrame(rows)

        return Stream(self.df.mapInPandas(runner, schema))

    def enumerate(self, order: Sequence[Column | str], name: str = "idx") -> "Stream":
        """Deterministic ordinal attach (zipWithIndex analog). Global
        window — use only on bounded/sliced data; ``enumerate_distributed``
        is the scale path, see also operators.topk's slice-first pattern."""
        w = Window.orderBy(*[_col(c) for c in order])
        return Stream(self.df.withColumn(name, F.row_number().over(w) - 1))

    def enumerate_distributed(self, name: str = "idx") -> "Stream":
        """RDD ``zipWithIndex`` semantics at scale: indices 0..n-1
        assigned by (partition id, intra-partition position) in TWO
        passes — a per-partition count (rows-per-partition collected to
        the driver, KBs at any scale) and a narrow kernel pass adding
        partition offset + running position. No shuffle, no global sort,
        no single-task window. Same caveat as zipWithIndex: ordering
        follows the current partition layout, so run it on a
        deterministic source (file scans qualify; post-shuffle intra-
        partition order does not)."""
        import numpy as np
        import pandas as pd

        tagged = self.df.withColumn("_pid", F.spark_partition_id())
        counts = {
            r["_pid"]: r["count"]
            for r in tagged.groupBy("_pid").count().collect()
        }
        offsets = {}
        acc = 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]

        schema = ", ".join(
            [f"{f.name} {f.dataType.simpleString()}" for f in self.df.schema.fields]
            + [f"{name} long"]
        )

        def kernel(batches):
            pos = 0
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                off = offsets[int(pdf["_pid"].iloc[0])]
                pdf = pdf.drop(columns=["_pid"])
                pdf[name] = off + pos + np.arange(len(pdf), dtype=np.int64)
                pos += len(pdf)
                yield pdf

        return Stream(tagged.mapInPandas(kernel, schema))

    # -- intermediate: order/slice (§2.F) ------------------------------------
    def sorted(self, *order: Column | str) -> "Stream":
        return Stream(self.df.orderBy(*[_col(c) for c in order]))

    def limit(self, n: int) -> "Stream":
        return Stream(self.df.limit(n))

    def skip(self, n: int) -> "Stream":
        return Stream(self.df.offset(n))

    def distinct(self, subset: Sequence[str] | None = None) -> "Stream":
        return Stream(self.df.dropDuplicates(subset) if subset else self.df.distinct())

    def histogram(self, col: Column | str, n_buckets: int, alias: str = "n") -> "Stream":
        """RDD ``histogram(buckets)`` analog with evenly-spaced buckets:
        pass 1 computes (min, max) with a partial-aggregated scan, pass 2
        buckets every row against the broadcast range — floor((x−min)/w)
        with the max clamped into the last bucket, like RDD.histogram.
        Returns (bucket, bucket_lo, n) sorted by bucket. Two scans, one
        tiny broadcast, one shuffle on the bucket id."""
        c = _col(col) if isinstance(col, str) else col
        rng = self.df.agg(
            F.min(c).cast("double").alias("_lo"), F.max(c).cast("double").alias("_hi")
        )
        # degenerate range (all values equal) → width 1, everything in
        # bucket 0 — avoids ANSI divide-by-zero
        span = F.when(F.col("_hi") > F.col("_lo"), F.col("_hi") - F.col("_lo")).otherwise(
            F.lit(float(n_buckets))
        )
        w = span / F.lit(float(n_buckets))
        bucket = F.least(
            F.floor((c.cast("double") - F.col("_lo")) / w), F.lit(n_buckets - 1)
        ).cast("long")
        return Stream(
            self.df.crossJoin(F.broadcast(rng))
            .select(bucket.alias("bucket"), F.col("_lo"), w.alias("_w"))
            .groupBy("bucket", "_lo", "_w")
            .agg(F.count(F.lit(1)).alias(alias))
            .select(
                "bucket",
                F.round(F.col("_lo") + F.col("bucket") * F.col("_w"), 6).alias(
                    "bucket_lo"
                ),
                alias,
            )
            .orderBy("bucket")
        )

    def _while_boundary(self, predicate: Column | str, order_key: Column | str):
        """First order-key value (ascending) whose row FAILS the
        predicate — the takeWhile/dropWhile cut point. One partial-
        aggregated MIN, no global sort, no window: this is what keeps
        the op parallel at 100 TB (a single-task Window.orderBy would
        serialize the whole stream). Requires a unique order key
        (encounter order must be a strict total order)."""
        key = _col(order_key) if isinstance(order_key, str) else order_key
        return self.df.filter(~_expr(predicate)).agg(
            F.min(key).alias("_boundary")
        )

    def take_while(self, predicate: Column | str, order_key: Column | str) -> "Stream":
        """Longest prefix (in ``order_key`` order) where ``predicate``
        holds — java.util.stream ``takeWhile`` (JDK 9). The boundary
        aggregate is broadcast; rows never shuffle."""
        key = _col(order_key) if isinstance(order_key, str) else order_key
        b = self._while_boundary(predicate, order_key)
        return Stream(
            self.df.crossJoin(F.broadcast(b)).filter(
                F.col("_boundary").isNull() | (key < F.col("_boundary"))
            ).drop("_boundary")
        )

    def drop_while(self, predicate: Column | str, order_key: Column | str) -> "Stream":
        """Complement of ``take_while``: everything from the first
        predicate-failing row onward — java.util.stream ``dropWhile``."""
        key = _col(order_key) if isinstance(order_key, str) else order_key
        b = self._while_boundary(predicate, order_key)
        return Stream(
            self.df.crossJoin(F.broadcast(b)).filter(
                F.col("_boundary").isNotNull() & (key >= F.col("_boundary"))
            ).drop("_boundary")
        )

    # -- intermediate: multi-stream (§2.C / §2.G) ----------------------------
    def union(self, other: "Stream") -> "Stream":
        """Bag-semantics concatenation (RDD union)."""
        return Stream(self.df.unionByName(other.df))

    concat = union

    def intersection(self, other: "Stream") -> "Stream":
        return Stream(self.df.intersect(other.df))

    def subtract(self, other: "Stream") -> "Stream":
        return Stream(self.df.subtract(other.df))

    def join(
        self, other: "Stream", on, how: str = "inner", broadcast_other: bool = False
    ) -> "Stream":
        right = F.broadcast(other.df) if broadcast_other else other.df
        return Stream(self.df.join(right, on, how))

    def cross(self, other: "Stream") -> "Stream":
        return Stream(self.df.crossJoin(other.df))

    def zip(self, other: "Stream", name_left="left", name_right="right") -> "Stream":
        """Pairwise align two streams (java Streams zip / RDD zip). No
        DataFrame primitive — implemented via RDD zip, which requires
        equal partitioning & lengths (same contract as RDD.zip)."""
        left_df, right_df = self.df, other.df
        zipped = left_df.rdd.zip(right_df.rdd).map(
            lambda lr: tuple(lr[0]) + tuple(lr[1])
        )
        cols = [f"{name_left}_{c}" for c in left_df.columns] + [
            f"{name_right}_{c}" for c in right_df.columns
        ]
        return Stream(zipped.toDF(cols))

    # -- §2.K corpus ops (facade sugar over operators/) ----------------------
    def dedup_exact(self, text_col: str = "text", id_col: str = "doc_id") -> "Stream":
        """Keep one row per distinct text (min id). Hashed-shuffle
        variant — 16 B/row instead of document bytes at scale."""
        from .operators.dedup import exact_dedup_hashed

        return Stream(exact_dedup_hashed(self.df, text_col, id_col))

    def dedup_neardup(
        self, threshold: float = 0.35, n: int = 3,
        text_col: str = "text", id_col: str = "doc_id",
    ) -> "Stream":
        """Near-duplicate dedup: banded-MinHash candidates → exact
        Jaccard verify → connected components → min-id survivors."""
        from .operators.dedup import neardup_dedup

        return Stream(neardup_dedup(self.df, threshold, n, text_col, id_col))

    def novelty_scores(
        self, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
    ) -> "Stream":
        """Per-doc n-gram novelty (r8): fraction of distinct n-grams no
        lower-id doc contains — (id, n_grams, novel_grams, novelty)."""
        from .operators.dedup import ngram_novelty_scores

        return Stream(ngram_novelty_scores(self.df, n, text_col, id_col))

    def neardup_candidates_deterministic(
        self, n: int = 3, bands: int = 8, rows_per_band: int = 2,
        text_col: str = "text", id_col: str = "doc_id",
    ) -> "Stream":
        """Banded-MinHash candidate pairs under md5-derived
        universal-hash permutations (r9) — engine-reproducible AND
        SQL-replayable; (id_a, id_b, n_bands_shared, jaccard)."""
        from .operators.dedup import minhash_deterministic_candidates

        return Stream(
            minhash_deterministic_candidates(
                self.df, n, bands, rows_per_band, text_col, id_col
            )
        )

    def simhash_candidates_deterministic(
        self, n: int = 3, max_hamming: int = 8,
        text_col: str = "text", id_col: str = "doc_id",
    ) -> "Stream":
        """Hamming near-dup candidate pairs from 60-bit md5 bit-vote
        SimHash signatures (r9) — (id_a, id_b, hamming)."""
        from .operators.dedup import simhash_deterministic_candidates

        return Stream(
            simhash_deterministic_candidates(
                self.df, n=n, max_hamming=max_hamming,
                text_col=text_col, id_col=id_col,
            )
        )

    def dedup_against(
        self, corpus: "Stream | DataFrame", text_col: str = "text"
    ) -> "Stream":
        """Incremental ingest: drop rows whose text already exists in
        ``corpus`` (bloom pre-filter, exact result — operators/bloom.py)."""
        from .operators.bloom import incremental_exact_dedup

        other = corpus.df if isinstance(corpus, Stream) else corpus
        return Stream(incremental_exact_dedup(self.df, other, text_col))

    def decontaminate(
        self, eval_set: "Stream | DataFrame", n: int = 3, min_overlap: int = 1,
        text_col: str = "text", id_col: str = "doc_id",
    ) -> "Stream":
        """Remove docs sharing ≥ ``min_overlap`` word n-grams with the
        eval/benchmark set (operators/decontaminate.py)."""
        from .operators.decontaminate import decontaminate

        other = eval_set.df if isinstance(eval_set, Stream) else eval_set
        return Stream(
            decontaminate(self.df, other, n, min_overlap, text_col, id_col)
        )

    def shuffle_seeded(self, seed: int = 42, id_col: str = "doc_id") -> "Stream":
        """Deterministic global permutation (training-order shuffle,
        reseedable per epoch)."""
        from .operators.decontaminate import seeded_global_shuffle

        return Stream(seeded_global_shuffle(self.df, seed, id_col))

    def dedup_spans(self, n: int = 10, text_col: str = "text", id_col: str = "doc_id") -> "Stream":
        """Exact-substring span dedup across the corpus (Lee et al.):
        repeated n-token spans survive only in their canonical doc
        (operators/dedup.remove_repeated_spans)."""
        from .operators.dedup import remove_repeated_spans

        return Stream(remove_repeated_spans(self.df, n, text_col, id_col))

    def dedup_semantic(
        self,
        threshold: float = 0.95,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        cluster_col: str | None = None,
        n_cells: int = 16,
    ) -> "Stream":
        """SemDeDup: drop rows with a smaller-id semantic neighbor
        (cosine ≥ threshold) inside their (KMeans or given) cluster
        (operators/similarity.semantic_dedup)."""
        from .operators.similarity import semantic_dedup

        return Stream(
            semantic_dedup(
                self.df, threshold, id_col, vec_col, cluster_col, n_cells
            )
        )

    def bpe_vocab(
        self, num_merges: int, text_col: str = "text"
    ) -> list[dict]:
        """Learn a BPE merge table from this corpus (operators/bpe.py).
        Terminal: returns the ordered merge list (driver-sized)."""
        from .operators.bpe import bpe_train

        merges, _ = bpe_train(self.df, num_merges, text_col)
        return merges

    def profile(self, columns: Sequence[str] | None = None) -> "Stream":
        """Single-scan per-column statistics (nulls, cardinality,
        moments, lengths, time span) — operators/profile.profile with
        the scale-default HLL cardinalities."""
        from .operators.profile import profile

        return Stream(profile(self.df, columns))

    def check(self, rules: list) -> "Stream":
        """Data-validation report: (rule, n_violations) per declarative
        rule (operators/validate.check; row-local rules share one scan)."""
        from .operators.validate import check

        return Stream(check(self.df, rules))

    def expect(self, rules: list) -> "Stream":
        """Gate form of ``check``: raise AssertionError listing every
        violated rule; returns self unchanged when clean."""
        from .operators.validate import expect

        expect(self.df, rules)
        return self

    def resample(
        self,
        ts_col: str,
        val_col: str,
        key_cols: Sequence[str],
        step_seconds: int,
        agg: str = "avg",
        avg_contract: str | None = None,
    ) -> "Stream":
        """Per-series fixed-grid resample with forward-fill + linear
        interpolation (operators/timeseries.resample_fill;
        avg_contract='micros_half_up' opts the average into the
        engine-exact integer-scaled rounding contract)."""
        from .operators.timeseries import resample_fill

        return Stream(
            resample_fill(
                self.df,
                ts_col,
                val_col,
                key_cols,
                step_seconds,
                agg,
                avg_contract=avg_contract,
            )
        )

    def take_token_budget(
        self, order: Sequence[Column], token_col: str, budget: int
    ) -> "Stream":
        """Keep rows in priority order until the running token total
        fills ``budget`` (operators/selection.select_token_budget —
        distributed prefix sum, no single-task window)."""
        from .operators.selection import select_token_budget

        return Stream(select_token_budget(self.df, order, token_col, budget))

    def mixture_weights(
        self,
        group_col: str,
        token_col: str,
        target_shares: dict[str, float] | None = None,
        alpha: float | None = None,
    ) -> "Stream":
        """Per-group resampling weights toward a target token mixture;
        ``alpha`` selects temperature-scaled α-sampling instead of
        explicit shares (operators/selection.mixture_weights)."""
        from .operators.selection import mixture_weights

        return Stream(
            mixture_weights(self.df, group_col, token_col, target_shares, alpha)
        )

    def waterfill_allocation(
        self,
        budget: "DataFrame",
        group_col: str = "lang",
        cap_col: str = "available_tokens",
        weight_col: str = "weight",
    ) -> "Stream":
        """Weighted waterfilling of a token budget across sources
        under availability caps — integer-exact allocations with
        capped sources' unmet demand redistributed in weight
        proportion (operators/selection.waterfill_allocation). The
        stream frame is the per-source caps table; ``budget`` is a
        1-row frame with column ``budget``."""
        from .operators.selection import waterfill_allocation

        return Stream(
            waterfill_allocation(
                self.df, budget, group_col, cap_col, weight_col
            )
        )

    def pack_sequences(
        self,
        max_tokens: int,
        token_col: str = "n_tokens",
        id_col: str = "doc_id",
        contiguous: bool = False,
    ) -> "Stream":
        """Assign docs to fixed-token-budget training bins.
        ``contiguous=False`` → per-partition first-fit-decreasing
        (tightest fill, partition-namespaced ids);
        ``contiguous=True`` → deterministic partitioning-independent
        budget-aligned bins (reproducible / oracle-checkable)
        (operators/packing)."""
        from .operators.packing import pack_sequences, pack_sequences_contiguous

        fn = pack_sequences_contiguous if contiguous else pack_sequences
        return Stream(fn(self.df, max_tokens, token_col, id_col))

    def surprisal_scores(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        carry_cols: Sequence[str] = (),
    ) -> "Stream":
        """Per-doc mean unigram surprisal under a corpus-self-fit LM —
        the CCNet/KenLM-style quality signal
        (operators/selection.unigram_surprisal_scores; vocab broadcast
        under a cap, hash-join above)."""
        from .operators.selection import unigram_surprisal_scores

        return Stream(
            unigram_surprisal_scores(self.df, text_col, id_col, carry_cols)
        )

    def bigram_surprisal(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        carry_cols: Sequence[str] = (),
    ) -> "Stream":
        """Per-doc mean bigram surprisal under a corpus-self-fit add-α
        bigram LM — catches word-salad docs whose unigram mix looks
        normal (operators/selection.bigram_surprisal_scores)."""
        from .operators.selection import bigram_surprisal_scores

        return Stream(
            bigram_surprisal_scores(self.df, text_col, id_col, carry_cols)
        )

    def score_quality_model(
        self,
        weights: "Stream | DataFrame",
        n_buckets: int,
        text_col: str = "text",
        id_col: str = "doc_id",
        carry_cols: Sequence[str] = (),
    ) -> "Stream":
        """fastText-style hashed linear classifier scoring: sigmoid of
        the mean (bucket → weight) model weight over the doc's
        md5-hashed tokens (operators/quality_model.score_linear_model;
        model broadcast while small)."""
        from .operators.quality_model import score_linear_model

        w = weights.df if isinstance(weights, Stream) else weights
        return Stream(
            score_linear_model(
                self.df, w, n_buckets, text_col, id_col, carry_cols
            )
        )

    def dsir_against(
        self,
        target: "Stream | DataFrame",
        text_col: str = "text",
        id_col: str = "doc_id",
        carry_cols: Sequence[str] = (),
        n_buckets: int = 256,
    ) -> "Stream":
        """DSIR importance log-weights of this (raw) corpus against a
        target-domain corpus (operators/selection.dsir_log_weights) —
        the resampling signal for domain-targeted data selection."""
        from .operators.selection import dsir_log_weights

        t = target.df if isinstance(target, Stream) else target
        return Stream(
            dsir_log_weights(
                self.df, t, text_col, id_col, carry_cols, n_buckets
            )
        )

    def drift_against(
        self, reference: "Stream | DataFrame", columns: Sequence[str]
    ) -> "Stream":
        """PSI + binned-KS drift of this data vs a reference
        (operators/drift.drift_report — 3 input scans total however
        many columns)."""
        from .operators.drift import drift_report

        ref = reference.df if isinstance(reference, Stream) else reference
        return Stream(drift_report(ref, self.df, columns))

    def decode_media(
        self, payload_col: str = "payload", **kwargs
    ) -> "Stream":
        """REAL numpy decode of WAV/BMP/PPM payloads → typed features;
        compressed formats degrade per row with a reason
        (operators/multimodal.decode_media_features)."""
        from .operators.multimodal import decode_media_features

        return Stream(decode_media_features(self.df, payload_col, **kwargs))

    def image_neardup_candidates(
        self,
        payload_col: str = "payload",
        id_col: str = "doc_id",
        max_hamming: int = 8,
        **kwargs,
    ) -> "Stream":
        """Perceptual-hash (dHash) image near-dup candidate pairs (r10):
        decode → integer-exact 60-bit dHash → banded-Hamming candidates
        → bit_count verify; (id_a, id_b, hamming). Catches re-encoded /
        resized copies text and embedding dedup cannot see
        (operators/imagehash.py)."""
        from .operators.imagehash import image_dhash, image_dhash_candidates

        sig = image_dhash(self.df, payload_col, id_col, **kwargs)
        return Stream(
            image_dhash_candidates(sig, id_col=id_col, max_hamming=max_hamming)
        )

    def audio_neardup_candidates(
        self,
        payload_col: str = "payload",
        id_col: str = "doc_id",
        max_hamming: int = 8,
        **kwargs,
    ) -> "Stream":
        """Acoustic-fingerprint audio near-dup candidate pairs (r10):
        WAV decode → integer-exact 60-bit energy-contour hash (volume-
        and mono→stereo-invariant) → banded-Hamming candidates;
        (id_a, id_b, hamming) (operators/audiohash.py)."""
        from .operators.audiohash import (
            audio_fingerprint,
            audio_fingerprint_candidates,
        )

        sig = audio_fingerprint(self.df, payload_col, id_col, **kwargs)
        return Stream(
            audio_fingerprint_candidates(
                sig, id_col=id_col, max_hamming=max_hamming
            )
        )

    def video_neardup_candidates(
        self,
        payload_col: str = "payload",
        id_col: str = "doc_id",
        n_slots: int = 4,
        max_total_hamming: int = 10,
        **kwargs,
    ) -> "Stream":
        """Temporal-fingerprint video near-dup candidate pairs (r10):
        uncompressed-AVI decode → per-slot integer-exact frame dHashes
        → slot-banded Hamming candidates; (id_a, id_b, total_hamming)
        (operators/videohash.py)."""
        from .operators.videohash import (
            video_frame_hashes,
            video_neardup_candidates,
        )

        hashes = video_frame_hashes(
            self.df, payload_col, id_col, n_slots=n_slots, **kwargs
        )
        return Stream(
            video_neardup_candidates(
                hashes, id_col=id_col, max_total_hamming=max_total_hamming
            )
        )

    def snapshot_diff(
        self,
        other: "Stream",
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> "Stream":
        """Crawl-over-crawl diff vs ``other`` (this stream = snapshot A,
        other = snapshot B): per id in A ∪ B, status ∈ {unchanged,
        modified, moved_away, moved_in, removed, added} with the
        re-host counterpart in match_id (operators/snapshot.py). One
        full-outer 16-byte id join; text never crosses an exchange."""
        from .operators.snapshot import snapshot_diff

        return Stream(snapshot_diff(self.df, other.df, id_col, text_col))

    def margin_bitext_mine(
        self,
        other: "Stream",
        k: int = 4,
        margin_ppm_threshold: int = 1_060_000,
        x_id: str = "x_id",
        y_id: str = "y_id",
        vec_col: str = "embedding",
        blocked: bool = False,
        **kwargs,
    ) -> "Stream":
        """Artetxe–Schwenk margin-based bitext mining of this stream's
        vectors (X) against ``other``'s (Y): mutual-best pairs above
        the ppm margin threshold, integer-exact decision arithmetic
        (operators/similarity.margin_bitext_mine). ``blocked=True``
        runs the multi-probe Lloyd-blocked scale path with its in-plan
        seeded-sample recall gate (kwargs: n_cells, iters, n_probe,
        gate_sample, min_sample_top1_recall)."""
        from .operators.similarity import (
            margin_bitext_mine,
            margin_bitext_mine_blocked,
        )

        fn = margin_bitext_mine_blocked if blocked else margin_bitext_mine
        return Stream(
            fn(
                self.df, other.df, k=k,
                margin_ppm_threshold=margin_ppm_threshold,
                x_id=x_id, y_id=y_id, vec_col=vec_col, **kwargs,
            )
        )

    def nfc_report(
        self, text_col: str = "text", group_cols: tuple = ("lang",)
    ) -> "Stream":
        """Unicode NFC-normalization audit per group
        (operators/profile.nfc_normalization_report)."""
        from .operators.profile import nfc_normalization_report

        return Stream(nfc_normalization_report(self.df, text_col, group_cols))

    def export_jsonl(
        self,
        dst_dir: str,
        order_cols: list | None = None,
        max_shard_bytes: int = 64 * 1024 * 1024,
    ) -> dict:
        """Terminal: write size-capped JSONL shards + manifest
        (io.export_jsonl_shards); returns the manifest dict."""
        from .io import export_jsonl_shards

        return export_jsonl_shards(self.df, dst_dir, order_cols, max_shard_bytes)

    def sample_weighted(
        self, k: int, weight_col: str, id_col: str = "doc_id", seed: int = 42
    ) -> "Stream":
        """k-row weighted sample WITHOUT replacement, P(row) ∝ weight —
        reproducible (md5-keyed Efraimidis–Spirakis; TakeOrdered, no
        full sort) (operators/selection.weighted_sample)."""
        from .operators.selection import weighted_sample

        return Stream(weighted_sample(self.df, k, weight_col, id_col, seed))

    def k_anonymity(
        self,
        quasi_cols: Sequence[str],
        k_values: Sequence[int] = (2, 5, 10),
        sensitive_col: str | None = None,
        l_value: int = 2,
    ) -> "Stream":
        """Pre-release privacy audit: rows in quasi-identifier classes
        below each k (+ l-diversity at ``l_value`` with a sensitive
        column) (operators/privacy.k_anonymity_profile)."""
        from .operators.privacy import k_anonymity_profile

        return Stream(
            k_anonymity_profile(
                self.df, quasi_cols, k_values, sensitive_col, l_value
            )
        )

    def pair_affinity(
        self, basket_col: str, item_col: str, min_support: int = 2, **kwargs
    ) -> "Stream":
        """Frequent item pairs + confidence/lift (Apriori 2-itemsets,
        broadcast prefilter + mega-basket cap)
        (operators/assoc.pair_cooccurrence)."""
        from .operators.assoc import pair_cooccurrence

        return Stream(
            pair_cooccurrence(self.df, basket_col, item_col, min_support, **kwargs)
        )

    def transitions(
        self, key_col: str, order_cols: Sequence, state_col: str
    ) -> "Stream":
        """First-order Markov transition matrix over per-key ordered
        state sequences (operators/timeseries.transition_counts)."""
        from .operators.timeseries import transition_counts

        return Stream(transition_counts(self.df, key_col, order_cols, state_col))

    def outliers_robust(
        self,
        value_col: str,
        group_cols: Sequence[str],
        z_threshold: float = 3.5,
    ) -> "Stream":
        """Per-group modified-z-score (median/MAD) outlier report
        (operators/profile.robust_outlier_report)."""
        from .operators.profile import robust_outlier_report

        return Stream(
            robust_outlier_report(self.df, value_col, group_cols, z_threshold)
        )

    def dedup_containment(self, threshold: float, n: int = 3, **kwargs) -> "Stream":
        """n-gram containment pairs |A∩B|/min(|A|,|B|) — quote/subset
        inclusion Jaccard misses (operators/dedup.ngram_containment_pairs)."""
        from .operators.dedup import ngram_containment_pairs

        return Stream(ngram_containment_pairs(self.df, threshold, n, **kwargs))

    def frontier(self, dims: Sequence) -> "Stream":
        """Skyline / Pareto frontier over [(col, 'min'|'max'), ...]
        dims (operators/topk.pareto_frontier)."""
        from .operators.topk import pareto_frontier

        return Stream(pareto_frontier(self.df, dims))

    def sample_weighted_per_group(
        self,
        k: int,
        weight_col: str,
        group_cols: Sequence[str],
        id_col: str = "doc_id",
        seed: int = 42,
    ) -> "Stream":
        """Up to k rows PER GROUP, drawn ∝ weight within each stratum
        (operators/selection.weighted_sample_per_group)."""
        from .operators.selection import weighted_sample_per_group

        return Stream(
            weighted_sample_per_group(
                self.df, k, weight_col, group_cols, id_col, seed
            )
        )

    def source_overlap(
        self, n: int = 5, source_col: str = "source", **kwargs
    ) -> "Stream":
        """source×source shared-shingle matrix — the resold-content
        audit (operators/dedup.cross_source_shingle_overlap)."""
        from .operators.dedup import cross_source_shingle_overlap

        return Stream(
            cross_source_shingle_overlap(self.df, n, source_col, **kwargs)
        )

    def collocations(
        self, min_count: int = 5, top_k: int | None = None, **kwargs
    ) -> "Stream":
        """PMI collocation mining over adjacent word pairs
        (operators/assoc.pmi_collocations)."""
        from .operators.assoc import pmi_collocations

        return Stream(
            pmi_collocations(self.df, min_count=min_count, top_k=top_k, **kwargs)
        )

    # -- keyed ops (§2.D) ----------------------------------------------------
    def group_by(self, *keys: Column | str):
        return self.df.groupBy(*keys)

    def reduce_by_key(self, keys: Sequence[str], **aggs: Column) -> "Stream":
        """foldby/reduceByKey analog: named aggregate Columns per key.
        Spark performs partial (map-side) aggregation before the shuffle,
        matching the reference's worker-partial/driver-final design."""
        return Stream(
            self.df.groupBy(*keys).agg(*[a.alias(n) for n, a in aggs.items()])
        )

    def count_by_key(self, *keys: str) -> "Stream":
        return Stream(self.df.groupBy(*keys).count())

    def aggregate_by_key(
        self,
        keys: Sequence[str],
        value: Column | str,
        zero: Any,
        seq_op: Callable[[Any, Any], Any],
        comb_op: Callable[[Any, Any], Any],
        alias: str = "agg",
    ) -> "Stream":
        """RDD aggregateByKey analog: arbitrary per-key accumulate with
        worker-local partial aggregation (seq_op) then cross-partition
        combine (comb_op). Escape hatch — named aggregates in
        ``reduce_by_key`` are the fast path."""
        rdd = self.df.select(*keys, _col(value).alias("_v")).rdd.map(
            lambda r: (tuple(r[k] for k in keys), r["_v"])
        )
        agged = rdd.aggregateByKey(zero, seq_op, comb_op)
        out = agged.map(lambda kv: kv[0] + (kv[1],))
        return Stream(out.toDF(list(keys) + [alias]))

    def group_values(self, keys: Sequence[str], value: Column | str, alias="values") -> "Stream":
        """groupByKey→list analog. collect_list materializes whole groups —
        for giant groups prefer applyInPandas on the grouped data."""
        return Stream(
            self.df.groupBy(*keys).agg(
                F.array_sort(F.collect_list(_col(value))).alias(alias)
            )
        )

    # -- terminals (§2.D / §2.A) ---------------------------------------------
    def _agg1(self, c: Column):
        return self.df.agg(c.alias("v")).collect()[0]["v"]

    def sum(self, col: Column | str):
        return self._agg1(F.sum(_col(col)))

    def count(self) -> int:
        return self.df.count()

    def min(self, col: Column | str):
        return self._agg1(F.min(_col(col)))

    def max(self, col: Column | str):
        return self._agg1(F.max(_col(col)))

    def mean(self, col: Column | str):
        return self._agg1(F.avg(_col(col)))

    def summary_statistics(self, col: Column | str) -> dict:
        """java.util.stream ``summaryStatistics()``: count/min/max/sum/
        mean in ONE partial-aggregated pass (one job), vs five separate
        jobs from calling the individual terminals."""
        c = _col(col)
        row = self.df.agg(
            F.count(c).alias("count"),
            F.min(c).alias("min"),
            F.max(c).alias("max"),
            F.sum(c).alias("sum"),
            F.avg(c).alias("mean"),
        ).collect()[0]
        return row.asDict()

    def reduce(self, col: Column | str, op: Callable[[Any, Any], Any]):
        """Generic associative fold. Known aggregates should use
        sum/min/max/...; this is the escape hatch, executed distributed
        via RDD treeReduce (partial per partition, tree-combined)."""
        rdd = self.df.select(_col(col).alias("v")).rdd.map(lambda r: r["v"])
        return rdd.treeReduce(op)

    def fold(self, col: Column | str, zero, op: Callable[[Any, Any], Any]):
        """RDD `fold`: like reduce but with a zero element applied per
        partition and at the final combine (Hadoop/RDD surface)."""
        rdd = self.df.select(_col(col).alias("v")).rdd.map(lambda r: r["v"])
        return rdd.fold(zero, op)

    def tree_aggregate(
        self,
        zero,
        seq_op: Callable[[Any, Any], Any],
        comb_op: Callable[[Any, Any], Any],
        depth: int = 2,
    ):
        """RDD `treeAggregate`: arbitrary (zero, seqOp over Rows, combOp)
        with multi-level combining, so the driver merges O(sqrt(P))
        partials instead of P at high partition counts — the global
        cousin of aggregate_by_key's per-key fold."""
        return self.df.rdd.treeAggregate(zero, seq_op, comb_op, depth)

    def accumulate(self, fn: Callable[[Any], float]):
        """Hadoop-counter-style accumulator terminal: runs ``fn(row)``
        per row across executors, summing the returned numbers into a
        Spark accumulator; returns the total. Side-channel metrics that
        don't disturb the main result (the RDD accumulator surface)."""
        acc = self.df.sparkSession.sparkContext.accumulator(0.0)
        self.df.foreach(lambda row, _acc=acc, _fn=fn: _acc.add(_fn(row)))
        return acc.value

    def map_batches_with(self, value, fn: Callable, schema) -> "Stream":
        """Broadcast-variable sugar: ``value`` is broadcast once per
        executor (not pickled per task); ``fn(pdf, value)`` maps each
        Arrow batch with the shared read-only value — the RDD
        ``broadcast()`` idiom on the DataFrame fast path."""
        bc = self.df.sparkSession.sparkContext.broadcast(value)

        def runner(batches):
            for pdf in batches:
                yield fn(pdf, bc.value)

        return Stream(self.df.mapInPandas(runner, schema))

    def any(self, predicate: Column | str) -> bool:
        """Early-out existence check: LIMIT 1 stops the scan at the first
        match instead of counting everything."""
        return len(self.df.filter(predicate).limit(1).take(1)) > 0

    def all(self, predicate: Column | str) -> bool:
        neg = ~_expr(predicate) if not isinstance(predicate, str) else f"NOT ({predicate})"
        return not self.any(neg)

    def none(self, predicate: Column | str) -> bool:
        return not self.any(predicate)

    def first(self):
        return self.df.first()

    def take(self, n: int):
        return self.df.take(n)

    def collect(self):
        return self.df.collect()

    def to_local_iterator(self):
        """Large-result materialization without driver OOM."""
        return self.df.toLocalIterator()

    def foreach(self, fn: Callable) -> None:
        self.df.foreach(fn)

    def write_parquet(self, path: str, partition_by: Sequence[str] | None = None):
        from .io import write_parquet

        write_parquet(self.df, path, list(partition_by) if partition_by else None)

    # -- persistence ---------------------------------------------------------
    def cache(self) -> "Stream":
        """Memory-and-disk cache for reuse across actions."""
        return Stream(self.df.cache())

    def persist(self, storage_level=None) -> "Stream":
        from pyspark import StorageLevel

        return Stream(self.df.persist(storage_level or StorageLevel.MEMORY_AND_DISK))

    def unpersist(self) -> "Stream":
        return Stream(self.df.unpersist())

    def checkpoint_local(self, eager: bool = True) -> "Stream":
        """Truncate lineage (iterative algorithms — see dedup.cc_keep_min)."""
        return Stream(self.df.localCheckpoint(eager=eager))

    # -- introspection -------------------------------------------------------
    def explain(self, mode: str = "formatted"):
        return self.df.explain(mode=mode)

    def __repr__(self):
        return f"Stream({self.df})"
