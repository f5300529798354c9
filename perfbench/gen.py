"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, scale)``: the same pair
writes byte-identical files, a different seed writes different files.

- :func:`star_schema` writes the ten registry tables (FIXTURES.md §B) as
  one single-row-group parquet file each, with the value domains the
  registered queries rely on (``source`` in src0..src19, ``lang`` in
  en/fr/de/es/zh, 64-d unit embeddings, ``props`` = ``{"k": N}``).
- :func:`etl_inputs` writes the ``etl_pipeline`` CSV inputs (a Zipf-keyed
  fact file, a dimension file and a ~1% change batch) and returns the
  aggregates the pipeline must reproduce.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts at scale 1.0; a table never drops below its floor, so the
#: small text/vector tables keep enough rows for the dedup and kNN queries.
_BASE_ROWS = {
    "customer": (150_000, 150),
    "supplier": (10_000, 10),
    "part": (200_000, 200),
    "orders": (1_500_000, 1_500),
    "lineitem": (6_000_000, 6_000),
    "events": (1_000_000, 1_000),
    "documents": (50_000, 500),
    "embeddings": (20_000, 500),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
EMBEDDING_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def rows_at(table: str, scale: float) -> int:
    base, floor = _BASE_ROWS[table]
    return max(floor, int(round(base * scale)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("datetime64[us]"), pa.timestamp("us"))


def _write(path: str, columns: dict[str, pa.Array]) -> None:
    table = pa.table(columns)
    # One row group per file, like the fixture tables. The writer stores no
    # timestamp, so equal inputs give equal bytes.
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    lengths = rng.integers(8, 96, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # Exact and near duplicates so the dedup queries have real groups.
    for i in rng.choice(np.arange(1, n), size=max(2, n // 60), replace=False):
        src = texts[int(rng.integers(0, i))]
        texts[i] = src if rng.random() < 0.2 else src + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.standard_normal((10, EMBEDDING_DIM))
    vecs = centers[labels] * 0.5 + rng.standard_normal((n, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBEDDING_DIM)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def star_schema(
    out_dir: str, seed: int, scale: float, only: Iterable[str] | None = None
) -> dict[str, int]:
    """Write the ten registry tables (or the ``only`` subset) under
    ``out_dir``; return their row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = {t: rows_at(t, scale) for t in _BASE_ROWS}
    keys = {t: np.arange(n[t], dtype=np.int64) for t in n}
    tables: dict[str, dict[str, pa.Array]] = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": pa.array(keys["customer"]),
            "c_name": pa.array([f"Customer#{i:09d}" for i in keys["customer"]]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        },
        "supplier": {
            "s_suppkey": pa.array(keys["supplier"]),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in keys["supplier"]]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        },
        "part": {
            "p_partkey": pa.array(keys["part"]),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n["part"], 2))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (keys["part"] % 1000) * 0.1, 1)),
        },
        "orders": {
            "o_orderkey": pa.array(keys["orders"]),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n["orders"])),
            "o_orderdate": _ts(
                _EPOCH_1995 + rng.integers(0, 2404, n["orders"]) * _DAY_US
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"])),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"])),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"])),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n["lineitem"])),
            "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": _ts(
                _EPOCH_1995 + rng.integers(1, 2499, n["lineitem"]) * _DAY_US
            ),
        },
    }
    span = 30 * _DAY_US
    step = span // n["events"]
    ts = _EPOCH_2024 + np.arange(n["events"], dtype=np.int64) * step
    ts += rng.integers(0, step, n["events"])
    tables["events"] = {
        "event_id": pa.array(keys["events"]),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(150, n["events"] // 67), n["events"])),
        "event_type": _pick(rng, EVENT_TYPES, n["events"]),
        "value": pa.array(np.round(rng.exponential(50.0, n["events"]), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
    }
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    counts = {}
    for name, cols in tables.items():
        if only is not None and name not in only:
            continue
        _write(os.path.join(out_dir, f"{name}.parquet"), cols)
        counts[name] = len(next(iter(cols.values())))
    return counts


#: ``label`` carries a product code ``C-<dddd>`` that the pipeline extracts.
LABEL_CODE_RE = r"C-(\d{4})"
ETL_FACT_SCHEMA = (
    "sale_id BIGINT, store_id INT, sale_date STRING, amount DOUBLE,"
    " qty INT, label STRING"
)
ETL_DIM_SCHEMA = "store_id INT, region STRING, tier STRING"
ETL_CHANGE_SCHEMA = ETL_FACT_SCHEMA + ", is_deleted BOOLEAN"
ETL_MIN_AMOUNT = 5.0


def etl_inputs(out_dir: str, seed: int, fact_rows: int) -> dict:
    """Write fact/dimension/change CSVs under ``out_dir``.

    Returns the row counts and the expected pipeline outputs, computed here
    in numpy independently of Spark: the per-(region, code) aggregate after
    the filter and join, and the row count and amount total after the
    change batch merges.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_stores = 200
    # Zipf-skewed store key: a few stores hold most of the sales.
    store = ((rng.zipf(1.3, fact_rows) - 1) % n_stores).astype(np.int32)
    day = rng.integers(0, 365, fact_rows)
    dates = (np.datetime64("2024-01-01") + day).astype(str)
    amount = np.round(rng.uniform(0.5, 500.0, fact_rows), 2)
    qty = rng.integers(1, 20, fact_rows).astype(np.int32)
    code = rng.integers(0, 40, fact_rows)
    label_words = np.array(["promo", "std", "bulk", "gift"])[rng.integers(0, 4, fact_rows)]
    labels = [f"{w} item C-{c:04d} x" for w, c in zip(label_words, code)]

    regions = np.array(["north", "south", "east", "west"])
    dim_region = regions[rng.integers(0, 4, n_stores)]
    dim_tier = np.array(["gold", "silver", "bronze"])[rng.integers(0, 3, n_stores)]

    def fact_lines(idx, amounts, suffix=()):
        for j, i in enumerate(idx):
            line = f"{i},{store[i]},{dates[i]},{amounts[i]:.2f},{qty[i]},{labels[i]}"
            yield f"{line},{suffix[j]}" if len(suffix) else line

    def write(path, lines):
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")

    fact_dir = os.path.join(out_dir, "fact")
    os.makedirs(fact_dir, exist_ok=True)
    # Four files, so the CSV scan has more than one input split.
    for part, idx in enumerate(np.array_split(np.arange(fact_rows), 4)):
        write(os.path.join(fact_dir, f"part-{part}.csv"), fact_lines(idx, amount))
    write(
        os.path.join(out_dir, "dim.csv"),
        (f"{s},{dim_region[s]},{dim_tier[s]}" for s in range(n_stores)),
    )
    # The change batch: ~1% of the rows, each either deleted or carrying
    # its full record with a new amount.
    n_change = max(1, fact_rows // 100)
    touched = np.sort(rng.choice(fact_rows, n_change, replace=False))
    deleted = rng.random(n_change) < 0.3
    merged_amount = amount.copy()
    merged_amount[touched] = np.round(amount[touched] + 1.0, 2)
    write(
        os.path.join(out_dir, "changes.csv"),
        fact_lines(touched, merged_amount, ["true" if d else "false" for d in deleted]),
    )
    survives = np.ones(fact_rows, bool)
    survives[touched[deleted]] = False

    keep = amount >= ETL_MIN_AMOUNT
    expected: dict[str, list] = {}
    for r, c, a, q in zip(dim_region[store][keep], code[keep], amount[keep], qty[keep]):
        acc = expected.setdefault(f"{r}|{c:04d}", [0, 0.0, 0])
        acc[0] += 1
        acc[1] += float(a)
        acc[2] += int(q)
    return {
        "fact_rows": fact_rows,
        "dim_rows": n_stores,
        "change_rows": int(n_change),
        "deleted_rows": int(deleted.sum()),
        "merged_rows": int(survives.sum()),
        "merged_amount": round(float(merged_amount[survives].sum()), 2),
        "expected_agg": {
            k: {"n": v[0], "amount": round(v[1], 2), "qty": v[2]}
            for k, v in sorted(expected.items())
        },
    }


def file_digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    import hashlib

    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
