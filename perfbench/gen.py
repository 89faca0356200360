"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``io.TABLES``) as parquet, with the
same names, schemas and value ranges as the TPC-H-style test tables, into a
directory the benchmark owns. Everything is a pure function of ``(seed, sf)``:
the same arguments give byte-identical tables, whose content hash the
benchmark records in every result.

The seed only orders: it picks the order rows are stored in, while the row
values come from one fixed draw. Several operators do data-dependent work
(connected-components rounds grow with the duplicate graph's diameter,
clustering iterates to convergence), so drawing new values per seed would
make the amount of work, not just the engine's speed, differ between runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_ADJ = "large hot blue old cold red small green".split()
_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")
VALUES_SEED = 20250801


def _us(ts: str) -> int:
    return int((np.datetime64(ts, "us") - _EPOCH).astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _dims() -> dict[str, pa.Table]:
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }


def _tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The eight tables that grow with the scale factor."""
    n = _sizes(sf)
    out: dict[str, pa.Table] = {}

    ck = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, len(ck)), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(ck)),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], len(ck)
        ),
    })
    sk = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, len(sk)), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(sk)),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    retail = 900.0 + (pk % 1000) / 10.0
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, len(pk)), rng.integers(0, 8, len(pk)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], len(pk)),
        "p_size": pa.array(rng.integers(1, 51, len(pk)), pa.int32()),
        "p_retailprice": retail,
    })
    ok = np.arange(n["orders"], dtype=np.int64)
    lo_day, hi_day = _us("1995-01-01") // 86_400_000_000, _us("2001-08-01") // 86_400_000_000
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, len(ck), len(ok)),
        "o_orderstatus": rng.choice(["F", "O", "P"], len(ok)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, len(ok)),
        "o_orderdate": _ts(rng.integers(lo_day, hi_day + 1, len(ok)) * 86_400_000_000),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], len(ok)
        ),
    })
    m = n["lineitem"]
    l_part = rng.integers(0, len(pk), m)
    qty = rng.integers(1, 51, m).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, len(ok), m),
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, len(sk), m),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.02, 1.0, m) * 2, 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _ts(rng.integers(lo_day + 1, hi_day + 96, m) * 86_400_000_000),
    })
    e = n["events"]
    gaps = rng.exponential(1.0, e)
    span = 30 * 86_400_000_000 - 60_000_000
    ts = _us("2024-01-01") + 10_000_000 + np.floor(np.cumsum(gaps) / gaps.sum() * span)
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(100, len(ck) // 10), e),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    vocab = np.array(_VOCAB)
    words = rng.integers(8, 100, d)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), w)]) for w in words]
    dk = np.arange(d, dtype=np.int64)
    out["documents"] = pa.table({
        "doc_id": dk,
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], d, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in dk],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    v = n["embeddings"]
    x = rng.standard_normal((v, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, v), pa.int32()),
    })
    return out


def _shuffled(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    """Seeded row order: the engine must not depend on the order rows arrive in."""
    return table.take(pa.array(rng.permutation(table.num_rows)))


def content_hash(out_dir: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(out_dir)):
        if f.endswith(".parquet"):
            h.update(f.encode())
            with open(os.path.join(out_dir, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def generate(out_dir: str, seed: int, sf: float) -> str:
    """Build (or reuse) the tables for ``(seed, sf)`` under ``out_dir``.

    Returns the content hash. A marker written last makes a half-built
    directory count as absent, so an interrupted build is redone."""
    want = {"seed": seed, "sf": sf, "layout": 2}
    marker = os.path.join(out_dir, "_INPUTS.json")
    try:
        with open(marker) as fh:
            got = json.load(fh)
        if {k: got.get(k) for k in want} == want:
            return got["hash"]
    except (OSError, ValueError, KeyError):
        pass
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name, t in _dims().items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    values, order = np.random.default_rng(VALUES_SEED), np.random.default_rng([seed, 2])
    for name, t in _tables(values, sf).items():
        pq.write_table(_shuffled(t, order), os.path.join(out_dir, f"{name}.parquet"))
    digest = content_hash(out_dir)
    with open(marker, "w") as fh:
        json.dump({**want, "hash": digest}, fh)
    return digest


class SeededScraper:
    """The scrape step's source: one day of headlines per call to ``scrape``.

    Rows are ``sources.scrape.FakeScraper`` rows (same dirt profile: duplicate
    links, short titles, relative and invalid URLs); the seed picks how many
    headlines each day has and the order the scraper returns them in. The
    day advances with every call, so each lap of the benchmark plays one day.
    """

    BASE_DAY = datetime(2025, 8, 1, 8, 0, 0)

    def __init__(self, seed: int, lo: int = 150, hi: int = 300):
        self._rng = np.random.default_rng([seed, 7])
        self._lo, self._hi = lo, hi
        self.day = -1
        self.n_rows = 0

    def next_day(self) -> None:
        self.day += 1
        self.n_rows = int(self._rng.integers(self._lo, self._hi))

    @property
    def base_time(self) -> str:
        return (self.BASE_DAY + timedelta(days=self.day)).isoformat()

    def scrape(self) -> list[dict]:
        from airdatapipeline_spark.sources.scrape import FakeScraper

        rows = FakeScraper(n_rows=self.n_rows, base_time=self.base_time).scrape()
        return [rows[i] for i in self._rng.permutation(len(rows))]
