"""Query-contract parity: every ``__spark_entry__.queries()`` entry on
Spark against its ``oracle_sql()`` twin on DuckDB at sf0.001.

Results compare as order-insensitive canonicalized values plus column
names and dtype kinds (int vs float vs object drift fails even when the
values match).  Set ``SPARK_GRAFT_TESTDATA`` to the directory holding
``sf0.001/``; it defaults to ``testdata/`` beside the repo checkout
(see TESTDATA.md)."""

from __future__ import annotations

import os
from pathlib import Path

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

TESTDATA = Path(
    os.environ.get("SPARK_GRAFT_TESTDATA", Path(__file__).resolve().parents[2] / "testdata")
)
SF_DIR = str(TESTDATA / "sf0.001")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "<null>"
        if pd.api.types.is_scalar(v) and pd.isna(v):
            return "<null>"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))
            return repr(v)
        if isinstance(v, bool):
            return str(bool(v))
        return str(v)

    out = df.map(cell)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    yield con
    con.close()


def test_registry_is_the_paper_path():
    names = ["contract_golden_vectors", "quality_report_documents", "scrub_pii",
             "transcripts_pipeline"]
    assert sorted(E.queries()) == sorted(E.oracle_sql()) == names


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_query_matches_oracle(spark, duck, name):
    got = E.queries()[name](spark, SF_DIR).toPandas()
    want = duck.sql(E.oracle_sql()[name]).df()
    assert len(got) > 0, name

    kinds = {
        col: (got[col].dtype.kind, want[col].dtype.kind)
        for col in set(got.columns) & set(want.columns)
    }
    assert all(a == b for a, b in kinds.values()), kinds

    cg, cw = canon(got), canon(want)
    assert list(cg.columns) == list(cw.columns)
    assert len(cg) == len(cw)
    pd.testing.assert_frame_equal(cg, cw)
