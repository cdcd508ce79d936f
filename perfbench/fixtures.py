"""Benchmark fixtures, the cache that holds them, and the canonical result
digest both engines are compared by.

``sf0.1`` is generated here from a fixed seed, with the shape of the
repository's star-schema test data: the same tables, columns, types, row
counts, key domains and value distributions (``BASELINE.md`` compares the
two table by table). ``sf1`` is made from it by the repository's own
``tools/make_sf_scale.py 10``: ten key-shifted copies. So the benchmark
needs nothing outside its checkout.

Everything is cached under ``perfbench/.cache``, in directories named by
a hash of the sources they come from:

- ``data-<hash>``: the fixtures; the hash covers this file and
  ``tools/make_sf_scale.py``.
- ``derived-<hash>``: the DuckDB expected digests and the IVF index; the
  hash also covers the engine package and the benchmark's code, so a
  change to an oracle text or to the index build is never checked against
  or run on results made by other code.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
#: Seed 42 puts one tpch_q10 revenue on an exact half-cent tie, where ROUND
#: of a float sum may go either way (DuckDB and Engine.sql differ there).
DATA_SEED = 43
SCALE_UP_TOOL = os.path.join(ROOT, "tools", "make_sf_scale.py")

STAR_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: Rows per table at sf0.1, as in the repository's fixture.
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
#: Row counts every run verifies before it uses a fixture.
ROWS_EXPECTED = {
    "sf0.1": {"lineitem": 600_000, "orders": 150_000, "customer": 15_000},
    "sf1": {"lineitem": 6_000_000, "orders": 1_500_000, "customer": 150_000},
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = "blue cold hot large new old red small".split()
_NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    """Dictionary-encode then decode: fast string columns from indices."""
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def _days(start: str, idx: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (idx.astype(np.int64) * 86_400_000_000).astype("timedelta64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _table(name: str, n: int | None = None) -> pa.Table:
    """The first ``n`` rows (default: all) of table ``name`` at sf0.1."""
    rng = np.random.default_rng([DATA_SEED, STAR_TABLES.index(name)])
    size = ROWS[name] if n is None else n
    ids = np.arange(size, dtype=np.int64)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": ids,
            "c_name": pa.array([f"Customer#{i:09d}" for i in ids]),
            "c_nationkey": pa.array(rng.integers(0, 25, size, dtype=np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, size),
            "c_mktsegment": _pick(_SEGMENTS, rng.integers(0, 5, size)),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": ids,
            "s_name": pa.array([f"Supplier#{i:09d}" for i in ids]),
            "s_nationkey": pa.array(rng.integers(0, 25, size, dtype=np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, size),
        })
    if name == "part":
        names = [f"{c} {w}" for c in _COLORS for w in _NOUNS]
        return pa.table({
            "p_partkey": ids,
            "p_name": _pick(names, rng.integers(0, len(names), size)),
            "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, size)),
            "p_type": _pick(_PTYPES, rng.integers(0, len(_PTYPES), size)),
            "p_size": pa.array(rng.integers(1, 51, size, dtype=np.int32)),
            "p_retailprice": np.round(900.0 + (ids % 1000) / 10.0, 2),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": ids,
            "o_custkey": rng.integers(0, ROWS["customer"], size, dtype=np.int64),
            "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, size)),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, size),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, size)),
            "o_orderpriority": _pick(_PRIORITIES, rng.integers(0, 5, size)),
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, ROWS["orders"], size, dtype=np.int64),
            "l_partkey": rng.integers(0, ROWS["part"], size, dtype=np.int64),
            "l_suppkey": rng.integers(0, ROWS["supplier"], size, dtype=np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, size, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, size).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, size),
            "l_discount": _money(rng, 0.0, 0.1, size),
            "l_tax": _money(rng, 0.0, 0.08, size),
            "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, size)),
            "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, size)),
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, size)),
        })
    if name == "events":
        offs = np.sort(rng.integers(0, 30 * 86_400_000_000, size))  # ids in time order, as in a log
        return pa.table({
            "event_id": ids,
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
            "user_id": rng.integers(0, 1_500, size, dtype=np.int64),
            "event_type": _pick(_EVENT_TYPES, rng.integers(0, 5, size)),
            "value": np.round(rng.exponential(50.0, size), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size)]),
        })
    if name == "documents":
        lengths = rng.integers(10, 100, size)
        texts = [" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)) for k in lengths]
        # ~5% near-duplicates: another document plus the token "dup"
        for i in np.flatnonzero(rng.random(size) < 0.05):
            j = int(rng.integers(0, size - 1))
            texts[i] = texts[j + (j >= i)] + " dup"
        return pa.table({
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(_LANGS, rng.choice(5, size, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
    if name == "embeddings":
        # unit vectors in random directions; the label is independent of them
        vecs = rng.normal(0.0, 1.0, (size, 64))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": ids,
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size, dtype=np.int32)),
        })
    raise ValueError(f"unknown table {name}")


def generate(dst: str) -> None:
    """Write every sf0.1 table under ``dst``, one parquet file each."""
    os.makedirs(dst, exist_ok=True)
    for name in STAR_TABLES:
        pq.write_table(_table(name), os.path.join(dst, f"{name}.parquet"))


def parquet_glob(path: str) -> str:
    """DuckDB path for a single-file or directory parquet table."""
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def duckdb_views(con, sf_dir: str) -> None:
    for name in STAR_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{parquet_glob(path)}')"
            )


def row_counts(sf_dir: str) -> dict[str, int]:
    out = {}
    for name in STAR_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        files = (
            [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
            if os.path.isdir(path)
            else [path]
        )
        out[name] = sum(pq.read_metadata(f).num_rows for f in files)
    return out


# ---------------------------------------------------------------------------
# Canonical digest. It compares as tests/conftest.py's rows_to_canonical
# does (columns sorted by name, floats at 9 significant digits, -0.0 as 0,
# rows order-insensitive), but column-wise over Arrow: on a 150,000-row,
# 6-column table it takes 0.7 s, against 5.1 s for rows_to_canonical on
# the same rows (4-vCPU VM). Dates and timestamps compare as integers;
# cells of other types (lists, structs, booleans) go through conftest's
# own _norm. test_perfbench checks that both forms agree.
# ---------------------------------------------------------------------------

_conftest = None


def engine_conftest():
    """The engine's tests/conftest.py, whose comparison the digest follows."""
    global _conftest
    if _conftest is None:
        spec = importlib.util.spec_from_file_location(
            "engine_tests_conftest", os.path.join(ROOT, "tests", "conftest.py")
        )
        _conftest = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_conftest)
    return _conftest


def _column_strings(col: pa.ChunkedArray) -> pa.Array:
    t = col.type
    if pa.types.is_timestamp(t):  # microseconds, whatever the unit
        col = col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    elif pa.types.is_date(t):
        col = col.cast(pa.date32()).cast(pa.int32())
    if pa.types.is_string(col.type) or pa.types.is_large_string(col.type) or pa.types.is_integer(col.type):
        return col.cast(pa.string()).fill_null("\x00").combine_chunks()
    if pa.types.is_floating(col.type) or pa.types.is_decimal(col.type):
        v = col.cast(pa.float64()).fill_null(0.0).to_numpy()
        out = np.char.mod("%.9g", np.where(v == 0, 0.0, v)).astype(object)
        out[np.isnan(v)] = "NaN"
        out[col.is_null().to_numpy(zero_copy_only=False)] = "\x00"
        return pa.array(out, pa.string())
    return pa.array(["\x00" if v is None else str(engine_conftest()._norm(v)) for v in col.to_pylist()], pa.string())


def digest(table: pa.Table) -> dict:
    """Order-insensitive digest of a result table: column names, row count
    and a sha256 of the sorted canonical row strings."""
    names = sorted(n.lower() for n in table.column_names)
    by_lower = {n.lower(): n for n in table.column_names}
    h = hashlib.sha256()
    if names:
        cols = [_column_strings(table[by_lower[n]]) for n in names]
        rows = pc.binary_join_element_wise(*cols, "\x1f")
        h.update("\x1e".join(rows.take(pc.sort_indices(rows)).to_pylist()).encode())
    return {"columns": names, "rows": table.num_rows, "sha256": h.hexdigest()}


# ---------------------------------------------------------------------------
# Cache layout
# ---------------------------------------------------------------------------


def _source_hash(paths: list[str]) -> str:
    """sha256 over the contents of ``paths`` and of every .py and .json
    file under the directories among them."""
    files = []
    for path in paths:
        if os.path.isdir(path):
            for root, dirs, names in os.walk(path):
                dirs[:] = sorted(d for d in dirs if d != "__pycache__")
                files += [os.path.join(root, n) for n in sorted(names) if n.endswith((".py", ".json"))]
        else:
            files.append(path)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def data_dir() -> str:
    return os.path.join(BENCH_DIR, ".cache", "data-" + _source_hash([__file__, SCALE_UP_TOOL]))


def derived_dir() -> str:
    sources = [__file__, SCALE_UP_TOOL, os.path.join(ROOT, "hive_2_3_2_spark")]
    sources += sorted(os.path.join(BENCH_DIR, f) for f in os.listdir(BENCH_DIR) if f.endswith(".py"))
    return os.path.join(BENCH_DIR, ".cache", "derived-" + _source_hash(sources))


def scale_dirs() -> dict[str, str]:
    return {s: os.path.join(data_dir(), s) for s in ROWS_EXPECTED}


def ivf_index_cache(scale: str) -> str:
    return os.path.join(derived_dir(), "ivf_index", scale)


def expected_path() -> str:
    return os.path.join(derived_dir(), "expected.json")


def missing(scales: list[str], need_index: bool) -> list[str]:
    """The cache entries a run over ``scales`` needs and does not have."""
    dirs = scale_dirs()
    out = [dirs[s] for s in scales if not os.path.isdir(dirs[s])]
    if not os.path.exists(expected_path()):
        out.append(expected_path())
    if need_index and not os.path.exists(os.path.join(ivf_index_cache("sf0.1"), "centroids.json")):
        out.append(ivf_index_cache("sf0.1"))
    return out
