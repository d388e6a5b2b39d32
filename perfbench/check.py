"""Output checks: the DuckDB oracle for query mixes, numpy for the pipeline.

A query result is checked for its row count, its column names and the
order-insensitive value hash of the engine's oracle harness
(``scripts/check_oracle.py``). Expected values come from each query's
oracle SQL, run by DuckDB over the same generated parquet.

The pipeline check recomputes, from the generated arrays alone, the model
count, the training rows, the submission shape and sum, and the exact
per-series RMSSE sums of the lag-7 forecaster the pipeline trains.
"""

from __future__ import annotations

import datetime
import math

import numpy as np

from datagen import M5_START
from scripts.check_oracle import value_hash


def digest(table) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted column names, value hash) of a pyarrow table."""
    cols = table.column_names
    rows = list(zip(*(table.column(c).to_pylist() for c in cols)))
    return table.num_rows, tuple(sorted(cols)), value_hash(rows, cols)


def oracle_digests(data_dir: str, tables, sqls: dict[str, str]):
    """Expected digest per query from its DuckDB oracle SQL."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{t}.parquet')"
        )
    try:
        return {name: digest(con.sql(sql).arrow())
                for name, sql in sqls.items()}
    finally:
        con.close()


def compare(got, want) -> str | None:
    """None when equal, else a one-line reason."""
    if got[0] != want[0]:
        return f"rows {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"columns {got[1]} != {want[1]}"
    if got[2] != want[2]:
        return f"value hash {got[2]} != {want[2]}"
    return None


# ------------------------------------------------------------ M5 pipeline

def m5_expected(data, cfg) -> dict:
    """What one pipeline pass must produce for the generated input, by the
    operation that produces it."""

    def _day(iso: str) -> int:  # column index into data.units
        d = datetime.date.fromisoformat(iso) - M5_START
        return d.days - data.first_day

    n_series = data.units.shape[0]
    kept = data.kept
    lo, hi = _day(cfg["train_start"]), _day(cfg["train_end"])
    weeks = cfg["pred_weeks"]
    train_rows = 0
    sub_sum = 0
    eval_start, eval_end = _day(cfg["eval_start"]), _day(cfg["eval_end"])
    per_series = []
    test_lo, test_hi = _day(cfg["test_start"]), _day(cfg["test_end"])
    for s in range(n_series):
        days = np.nonzero(kept[s])[0]
        y = data.units[s, days].astype(np.int64)
        lag7 = np.zeros(len(days), np.int64)
        lag7[7:] = y[:-7]
        n_train = int(((days >= lo) & (days <= hi)).sum())
        train_rows += sum(max(0, n_train - 7 * w) for w in weeks)
        in_test = (days >= test_lo) & (days <= test_hi)
        sub_sum += int(lag7[in_test].sum()) * len(weeks)
        # eval: forecasts from the eval week, scored on the 28 days after
        # it; scale from the naive errors up to eval_end
        yhat = {}
        for j in np.nonzero((days >= eval_start) & (days <= eval_end))[0]:
            for w in weeks:
                yhat[int(days[j]) + 7 * w] = int(lag7[j])
        n_sc = sse = n_scale = scale_sse = 0
        for j in range(len(days)):
            d = int(days[j])
            if d in yhat:
                n_sc += 1
                sse += ((int(y[j]) - yhat[d]) * 1000) ** 2
            if j > 0 and d <= eval_end:
                n_scale += 1
                scale_sse += ((int(y[j]) - int(y[j - 1])) * 1000) ** 2
        ppm = None
        if n_sc > 0 and n_scale > 0 and scale_sse > 0:
            r = (float(sse) / n_sc) / (float(scale_sse) / n_scale)
            ppm = math.floor(1e6 * math.sqrt(r) + 0.5)
        per_series.append((n_sc, sse, n_scale, scale_sse, ppm))
    ppms = [p[4] for p in per_series if p[4] is not None]
    return {
        "train": {"models": len(weeks), "train_rows": train_rows},
        "predict": {
            "submission_rows": n_series,
            "submission_columns": cfg["horizon"],
            "submission_cells": n_series * cfg["horizon"],
            "submission_sum": float(sub_sum),
        },
        "eval": {
            "eval_series": n_series,
            "eval_scored": len(ppms),
            "eval_sse": sum(p[1] for p in per_series),
            "eval_scale_sse": sum(p[3] for p in per_series),
            "eval_rmsse_ppm_sum": sum(ppms),
        },
    }
