"""Order-independent digests of op outputs, and the expected-value table.

An op's output is either a pandas frame (the collected rows of a query or
store read) or a plain JSON-able value (a compaction report, a count). A
frame digests as sha256 over its rows rendered and sorted, so row order and
partitioning never matter; column order does not either. Rendering follows
the DuckDB-oracle gate: floats and decimals compare as doubles, bit-exact
(``repr``), with -0.0 folded into 0.0 and NaN read as NULL; every other
scalar compares as its string form; arrays and maps render as sorted JSON.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
_NULL = "\x00NULL"


def _scalar(v):
    if v is None:
        return _NULL
    if hasattr(v, "tolist"):  # numpy scalar or array
        v = v.tolist()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return _NULL
        return repr(f + 0.0)  # folds -0.0 into 0.0
    if isinstance(v, (list, tuple, dict)):
        return json.dumps(_nested(v), sort_keys=True)
    try:
        import pandas as pd

        if v is pd.NaT or (not isinstance(v, str) and pd.isna(v)):
            return _NULL
    except (TypeError, ValueError):
        pass
    return str(v)


def _nested(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, dict):
        return {str(k): _nested(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_nested(x) for x in v]
    if hasattr(v, "asDict"):  # pyspark Row inside an array column
        return _nested(v.asDict(recursive=True))
    return _scalar(v)


def digest(output) -> dict:
    """{"rows": n, "sha256": hex} for a frame; {"value": ...} digest for
    anything else JSON-able."""
    if hasattr(output, "itertuples"):
        cols = sorted(output.columns)
        frame = output[cols]
        rows = sorted(
            [_scalar(v) for v in row] for row in frame.itertuples(index=False, name=None)
        )
        body = json.dumps({"columns": cols, "rows": rows}, separators=(",", ":"))
        return {"rows": len(rows), "sha256": hashlib.sha256(body.encode()).hexdigest()}
    body = json.dumps(_nested(output), sort_keys=True, separators=(",", ":"))
    return {"rows": 1, "sha256": hashlib.sha256(body.encode()).hexdigest()}


def load_expected(path: str = EXPECTED_PATH) -> dict:
    with open(path) as fh:
        return json.load(fh)
