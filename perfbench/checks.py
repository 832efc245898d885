"""Answer checks: engine output against the independent oracles.

Top-k answers are compared as ranked ``(doc_id, score)`` lists: doc ids
exactly, scores within ``ATOL``. Other frames (``_search`` pages and
aggregation buckets) are compared column by column: floats within
``ATOL``, everything else exactly.
"""

from __future__ import annotations

import math

import pandas as pd

ATOL = 1e-9


def frame_json(pdf: pd.DataFrame) -> dict:
    """A JSON-safe copy of a result frame (NaN/NaT -> None, timestamps ->
    ISO strings, numpy scalars -> Python)."""
    cols = [str(c) for c in pdf.columns]
    rows = []
    for rec in pdf.itertuples(index=False, name=None):
        row = []
        for v in rec:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append(None)
            elif isinstance(v, pd.Timestamp):
                row.append(v.isoformat())
            elif hasattr(v, "item"):
                row.append(v.item())
            else:
                row.append(v)
        rows.append(row)
    return {"columns": cols, "rows": rows}


def topk_json(pdf: pd.DataFrame) -> dict:
    return frame_json(pdf[["doc_id", "score"]])


def frames_match(got: dict, want: dict) -> bool:
    if got["columns"] != want["columns"] or len(got["rows"]) != len(want["rows"]):
        return False
    for g_row, w_row in zip(got["rows"], want["rows"]):
        for g, w in zip(g_row, w_row):
            if isinstance(g, float) or isinstance(w, float):
                if g is None or w is None or abs(g - w) > ATOL:
                    return False
            elif g != w:
                return False
    return True


def split_many(pdf: pd.DataFrame, query_ids: list[str]) -> dict[str, dict]:
    """``search_topk_many`` output -> one top-k frame per query id."""
    return {qid: topk_json(pdf[pdf["query_id"] == qid].reset_index(drop=True))
            for qid in query_ids}
