from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
REFERENCE_DIR = Path("/root/reference")


def _reference_file(name: str) -> str:
    path = REFERENCE_DIR / name
    if not path.is_file():
        pytest.skip(f"reference file {path} unavailable")
    return str(path)


@pytest.fixture(scope="session")
def reference_csv() -> str:
    """The reference checkout's MuseMotion CSV; a test that uses it
    skips on a host without the reference checkout."""
    return _reference_file("musemotion_databse.csv")


@pytest.fixture(scope="session")
def reference_dump() -> str:
    """The reference checkout's SQL INSERT dump; skips like
    :func:`reference_csv`."""
    return _reference_file("musemotion-populate-table.sql")


@pytest.fixture(scope="session")
def spark():
    from week4_musemotion_spark.session import get_spark

    spark = get_spark("pytest", master="local[4]")
    yield spark
    spark.stop()


def duckdb_oracle(sql: str, tables: tuple[str, ...]) -> "pandas.DataFrame":  # noqa: F821
    """DuckDB oracle run for a query: views over the smoke-SF parquet
    tables, one connection per call."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def oracle_diff(spark, name: str, tables: tuple[str, ...]):
    """Spark-vs-DuckDB differential for a registry query: same column
    set, same row count, order-insensitive value equality.  Returns
    the Spark result for extra asserts."""
    import pandas as pd

    from week4_musemotion_spark.queries.registry import REGISTRY

    spec = REGISTRY[name]
    got = spec.builder(spark, SF_SMOKE).toPandas()
    want = duckdb_oracle(spec.oracle, tables)
    assert sorted(got.columns) == sorted(want.columns), (got.columns, want.columns)
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    assert len(g) == len(w), (name, len(g), len(w))
    pd.testing.assert_frame_equal(g, w, check_dtype=False)
    return got


def _flat_file(df, staging_dir: Path, dest: Path) -> None:
    """Write ``df`` as the single parquet file ``dest``: the file
    stream source does not recurse into the directory
    ``df.write.parquet`` produces, so the part-file is lifted out."""
    df.coalesce(1).write.parquet(str(staging_dir))
    next(staging_dir.glob("part-*.parquet")).rename(dest)


def start_stream(stream, batch_fn, checkpoint_dir: str):
    """Run ``batch_fn`` as the ``foreachBatch`` body of an
    ``availableNow`` query over ``stream``; returns the
    ``StreamingQuery`` (the caller awaits termination)."""
    return (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
