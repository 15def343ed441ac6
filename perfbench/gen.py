"""Seeded input generators for the benchmark.

Two families, both derived from ``--seed`` only:

- :func:`write_tables` writes the ten parquet tables the query registry
  reads (``region`` … ``embeddings``), with the column types and value
  shapes of the TPC-H-style testdata (TESTDATA.md, FIXTURES.md B):
  2-decimal money, small categorical domains, 5 % planted near-duplicate
  documents, unit-norm 64-d embeddings.
- :func:`musemotion_batches` makes dirty headerless MuseMotion CSV
  batches (FIXTURES.md A1 traits: padded text, ``nan``/``None``/empty
  literals, non-numeric years, malformed WKT points, trailing junk
  fields) together with the clean values each row must become, so the
  ingest workload can check the program's output against expectations
  computed here in plain Python.
"""

from __future__ import annotations

import csv
import os
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def tables(seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """The registry's ten input tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, "1995-01-02", 2500, n_line),
        }
    )
    gaps = np.maximum(rng.exponential(259.0, n_ev), 1e-3)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
            "value": np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _texts(rng, n_docs)
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, 5, n_docs)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), i32),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> dict[str, int]:
    """Write :func:`tables` as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, sf, n_docs, n_vecs).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


# --------------------------------------------------------------------------
# MuseMotion CSV batches
# --------------------------------------------------------------------------

MAKES = ["TESLA"] * 8 + ["NISSAN", "CHEVROLET", "FORD", "BMW", "KIA", "TOYOTA", "VOLVO", "JEEP"]
MODELS = ["MODEL Y", "MODEL 3", "LEAF", "BOLT EV", "MUSTANG MACH-E", "I3", "NIRO", "PRIUS PRIME",
          "XC90", "GRAND CHEROKEE"]
CITIES = ["Seattle", "Bellevue", "Redmond", "Kirkland", "Tacoma", "Olympia", "Spokane", "Everett",
          "Renton", "Bothell", "Vancouver", "Yakima"]
TYPES = ["Battery Electric Vehicle (BEV)", "Plug-in Hybrid Electric Vehicle (PHEV)"]
ELIGIBILITY = ["Clean Alternative Fuel Vehicle Eligible", "Not eligible due to low battery range",
               "Eligibility unknown as battery range has not been researched"]
UTILITIES = ["PUGET SOUND ENERGY INC", "CITY OF SEATTLE - (WA)", "PACIFICORP",
             "BONNEVILLE POWER ADMINISTRATION||CITY OF TACOMA - (WA)",
             "PUGET SOUND ENERGY INC|CITY OF TACOMA - (WA)"]
NULL_TEXT = ("nan", "None", "")


@dataclass
class Batch:
    """One CSV batch: the file written and the clean rows it must yield."""

    path: str
    input_bytes: int
    #: clean rows surviving the critical-column drop, in file order:
    #: (vin, city, year, make, electric_range, model)
    rows: list[tuple] = field(default_factory=list)


def _padded(rng: np.random.Generator, values) -> list[str]:
    """``values`` as text, 10 % wrapped in spaces and 5 % after a tab."""
    r = rng.random(len(values))
    return [f"  {v} " if x < 0.1 else f"\t{v}" if x < 0.15 else str(v) for v, x in zip(values, r)]


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> list[str]:
    return [choices[i] for i in rng.integers(0, len(choices), n)]


def musemotion_batches(out_dir: str, seed: int, n_batches: int, rows_per_batch: int) -> list[Batch]:
    """Write ``n_batches`` dirty headerless CSVs under ``out_dir``.

    VINs are unique within a batch and drawn from a pool a third larger
    than a batch, so every batch updates most keys the snapshot already
    holds and the snapshot reaches its steady size (the whole pool)
    within the first few landings.  About 2 % of rows lose their VIN or
    city to a null literal and must be dropped by the cleaner.
    """
    rng = np.random.default_rng(seed + 7919)
    os.makedirs(out_dir, exist_ok=True)
    pool = [f"{v:010X}" for v in rng.choice(16**9, rows_per_batch * 4 // 3, replace=False)]
    n = rows_per_batch
    batches = []
    for b in range(n_batches):
        path = os.path.join(out_dir, f"batch_{b:02d}.csv")
        vins = [pool[v] for v in rng.choice(len(pool), n, replace=False)]
        cities, makes, models = _pick(rng, CITIES, n), _pick(rng, MAKES, n), _pick(rng, MODELS, n)
        years = rng.integers(2008, 2027, n).tolist()
        ranges = np.where(rng.random(n) < 0.75, 0, rng.integers(10, 340, n)).tolist()
        drop = rng.random(n)
        bad_year = rng.random(n) < 0.03
        bad_point = rng.random(n) < 0.05
        lons, lats = -122.5 + rng.random(n) * 5, 45.5 + rng.random(n) * 3
        nulls = _pick(rng, list(NULL_TEXT), n)
        raw_vins = [z if d < 0.01 else v for v, z, d in zip(_padded(rng, vins), nulls, drop)]
        raw_cities = [z if 0.01 <= d < 0.02 else c for c, z, d in zip(_padded(rng, cities), nulls, drop)]
        raw_years = ["unknown" if bad else y for y, bad in zip(_padded(rng, years), bad_year)]
        points = [
            "POINT (bad)" if bad else f"POINT ({lon:.5f} {lat:.5f})"
            for lon, lat, bad in zip(lons, lats, bad_point)
        ]
        fields = zip(
            raw_vins,
            raw_cities,
            raw_years,
            _padded(rng, makes),
            models,
            _pick(rng, TYPES, n),
            _pick(rng, ELIGIBILITY, n),
            map(str, ranges),
            map(str, rng.integers(1, 10**9, n)),
            points,
            _pick(rng, UTILITIES, n),
            np.where(rng.random(n) < 0.1, ")", ""),
            np.where(rng.random(n) < 0.1, "0", ""),
        )
        with open(path, "w", newline="") as fh:
            csv.writer(fh).writerows([*f[:11], "", f[11], f[12], ""] for f in fields)
        rows = zip(vins, cities, years, makes, ranges, models, drop, bad_year)
        batch = Batch(
            path,
            os.path.getsize(path),
            [(v, c, None if bad else y, mk, r, md) for v, c, y, mk, r, md, d, bad in rows if d >= 0.02],
        )
        batches.append(batch)
    return batches


@dataclass(frozen=True)
class Expect:
    """What the program must report for a set of clean rows."""

    total: int
    avg_year: float | None
    avg_range: float | None
    by_make: dict[str, int]
    by_city: dict[str, int]


def _round_half_up(x: float, nd: int) -> float:
    # Spark's round() is HALF_UP on the decimal expansion of the double
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def expect(rows: list[tuple]) -> Expect:
    """KPI row and chart counts of ``rows`` (kpi_summary / group_size)."""
    years = [r[2] for r in rows if r[2] is not None]
    ranges = [r[4] for r in rows]
    by_make: dict[str, int] = {}
    by_city: dict[str, int] = {}
    for r in rows:
        by_make[r[3]] = by_make.get(r[3], 0) + 1
        by_city[r[1]] = by_city.get(r[1], 0) + 1
    return Expect(
        len(rows),
        _round_half_up(sum(years) / len(years), 1) if years else None,
        _round_half_up(sum(ranges) / len(ranges), 2) if ranges else None,
        by_make,
        by_city,
    )


def upserted(batches: list[Batch]) -> list[tuple]:
    """Rows of the snapshot after merging ``batches`` in order: the
    last batch carrying a VIN wins (VINs are unique within a batch)."""
    latest: dict[str, tuple] = {}
    for b in batches:
        for r in b.rows:
            latest[r[0]] = r
    return list(latest.values())


def interactions(seed: int) -> Iterator[dict[str, list[str]]]:
    """An endless seeded sequence of sidebar selections over city/make."""
    rng = np.random.default_rng(seed + 104729)
    while True:
        choice: dict[str, list[str]] = {}
        if rng.random() < 0.7:
            choice["city"] = sorted(rng.choice(CITIES, int(rng.integers(1, 5)), replace=False).tolist())
        if rng.random() < 0.5:
            choice["make"] = sorted(set(rng.choice(MAKES, int(rng.integers(1, 4))).tolist()))
        yield choice
