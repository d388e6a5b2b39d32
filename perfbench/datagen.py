"""Seeded input generators: the vector mix's tables and the M5 input.

Both write parquet with pyarrow, never through Spark, so input generation
costs seconds of numpy rather than a Spark job (a 1,941-column projection
through Spark took about 50 s). The same seed always gives the same files.

``write_tables`` reproduces the shapes of the two engine tables the vector
mix reads (``sources.catalog.SCHEMAS``): ``documents`` with 5 % exact
re-posts tagged ``dup`` and 64-dim unit ``embeddings``. Row counts scale
with ``sf`` as the engine's fixtures do.

``write_m5`` keeps the structure of ``scripts/m5_full_scale.py``: real M5
department item ratios, a real store id, runs of zero units and a
1-per-mille hole in the price grid, so the pipeline's NULL-price filter
runs. It writes the last ``M5_HISTORY`` days of the real M5 calendar (real
day ids and dates, so the reference ``full.yaml`` dates apply) and returns
the plain arrays the pipeline check is computed from.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
M5_TABLES = ("sales_wide", "calendar", "prices", "sample_submission")


def _pick(values, idx):
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _documents(rng, sf: float) -> pa.Table:
    n = max(int(50_000 * sf), 500)
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    is_dup = rng.random(n) < 0.05
    is_dup[0] = False
    for i in range(n):
        if is_dup[i]:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return pa.table({
        "doc_id": np.arange(n),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(LANGS, rng.choice(5, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng, sf: float) -> pa.Table:
    n = max(int(20_000 * sf), 500)
    vecs = rng.standard_normal((n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.astype(np.float32).ravel()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


TABLES = {"documents": _documents, "embeddings": _embeddings}


def write_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``, each from its own
    seeded stream; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for i, (name, build) in enumerate(TABLES.items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(build(np.random.default_rng([seed, 1, i]), sf), path)
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------- M5 input

# real M5 department item counts (sum 3,049) and the CA_1 store
M5_DEPTS = {
    "HOBBIES_1": 416, "HOBBIES_2": 149,
    "HOUSEHOLD_1": 532, "HOUSEHOLD_2": 515,
    "FOODS_1": 216, "FOODS_2": 398, "FOODS_3": 823,
}
M5_STORE = "CA_1"
M5_DAYS = 1941
M5_START = datetime.date(2011, 1, 29)  # real M5 d_1
M5_WEEK0 = 11101
# the generated history is the last M5_HISTORY days (d_1692..d_1941):
# the melt's cost grows with the day-column count, not the series count
M5_HISTORY = 250


class M5Input:
    """The generated M5 input, kept as arrays for the pipeline check."""

    def __init__(self, units, kept, first_day):
        self.units = units          # int32 [series, day]
        self.kept = kept            # bool [series, day]: price row present
        self.first_day = first_day  # M5 day index (0-based) of column 0


def m5_data(item_share: float, seed: int):
    rng = np.random.default_rng([seed, 2])
    items, depts = [], []
    for dept, n in M5_DEPTS.items():
        k = max(1, round(n * item_share))
        items += [f"{dept}_{i:03d}" for i in range(1, k + 1)]
        depts += [dept] * k
    n = len(items)
    ids = [f"{it}_{M5_STORE}_evaluation" for it in items]
    # intermittent demand: a per-item Poisson rate, a zero run before each
    # item's launch, and one out-of-stock run of zeros later on
    n_days = M5_HISTORY
    first = M5_DAYS - n_days
    rate = rng.lognormal(0.0, 1.0, n)[:, None]
    units = rng.poisson(rate, (n, n_days)).astype(np.int32)
    day = np.arange(n_days)[None, :]
    launch = rng.integers(0, n_days // 4, n)[:, None]
    gap_at = rng.integers(n_days // 4, n_days - 60, n)[:, None]
    gap_len = rng.integers(5, 60, n)[:, None]
    zero = (day < launch) | ((day >= gap_at) & (day < gap_at + gap_len))
    units[zero] = 0
    week = (first + np.arange(n_days)) // 7
    week0 = week[0]
    price_ok = rng.random((n, week[-1] - week0 + 1)) >= 0.001
    kept = price_ok[:, week - week0]

    cats = [d.split("_")[0] for d in depts]
    sales = {
        "id": pa.array(ids),
        "item_id": pa.array(items),
        "dept_id": pa.array(depts),
        "cat_id": pa.array(cats),
        "store_id": pa.array([M5_STORE] * n),
        "state_id": pa.array([M5_STORE.split("_")[0]] * n),
    }
    days = range(first, M5_DAYS)
    for j, d in enumerate(days):
        sales[f"d_{d + 1}"] = pa.array(units[:, j])
    dates = [M5_START + datetime.timedelta(days=d) for d in days]
    null_str = pa.nulls(n_days, pa.string())
    zeros = pa.array(np.zeros(n_days, np.int32))
    calendar = {
        "date": pa.array([x.isoformat() for x in dates]),
        "wm_yr_wk": pa.array([M5_WEEK0 + d // 7 for d in days], pa.int32()),
        "d": pa.array([f"d_{d + 1}" for d in days]),
        "weekday": pa.array([x.strftime("%A") for x in dates]),
        "wday": pa.array([x.weekday() + 1 for x in dates], pa.int32()),
        "event_name_1": null_str, "event_type_1": null_str,
        "event_name_2": null_str, "event_type_2": null_str,
        "snap_CA": zeros, "snap_TX": zeros, "snap_WI": zeros,
    }
    s_idx, w_idx = np.nonzero(price_ok)
    w_idx = w_idx + week0
    base_price = rng.uniform(0.5, 20.0, n)
    prices = {
        "store_id": pa.array([M5_STORE] * len(s_idx)),
        "item_id": _pick(items, s_idx),
        "wm_yr_wk": pa.array(M5_WEEK0 + w_idx, pa.int32()),
        "sell_price": np.round(base_price[s_idx] + (w_idx % 10) * 0.01, 2),
    }
    submission = {"id": pa.array(ids)}
    for i in range(1, 29):
        submission[f"F{i}"] = pa.array(np.zeros(n))
    tables = {
        "sales_wide": pa.table(sales),
        "calendar": pa.table(calendar),
        "prices": pa.table(prices),
        "sample_submission": pa.table(submission),
    }
    return tables, M5Input(units, kept, first)


def write_m5(out_dir: str, item_share: float, seed: int):
    """Write the four M5 inputs under ``out_dir``; returns (bytes, M5Input)."""
    os.makedirs(out_dir, exist_ok=True)
    tables, data = m5_data(item_share, seed)
    total = 0
    for name in M5_TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        total += os.path.getsize(path)
    return total, data
