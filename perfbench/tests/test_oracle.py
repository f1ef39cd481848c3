import math

import pandas as pd

from oracle import digest


def test_digest_ignores_row_and_column_order_but_not_values():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, math.nan], "s": ["x", "y", None]})
    b = a.iloc[[2, 0, 1]][["s", "v", "k"]]
    assert digest(a) == digest(b)
    assert digest(a)[1] == 3
    c = a.copy()
    c.loc[0, "v"] = 0.5000000000000001
    assert digest(c) != digest(a)
