"""ENFORCED oracle coverage for every registered query: each
``queries()`` entry runs through the same Spark-vs-DuckDB compare as
tools/check_oracle.py (same canon hash) at sf0.001 on every pytest run,
so tier-1 alone proves the whole registry — including the entries past
the 50-query gate window that ``queries()`` describes.

The query list is read from the registry, not hard-coded, so a newly
registered query is enforced without touching this file."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from tools.check_oracle import canon  # noqa: E402

SF = "/root/testdata/sf0.001"

_QUERIES = list(entry.queries())


@pytest.fixture(scope="module")
def duck():
    import duckdb
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


def test_tail_exists_and_every_query_registered_once():
    assert _QUERIES, "empty query registry"
    assert len(_QUERIES) == len(set(_QUERIES))


@pytest.mark.parametrize("name", _QUERIES)
def test_tail_query_matches_oracle(spark, duck, name):
    sdf = entry.queries()[name](spark, SF).toPandas()
    sql = entry.oracle_sql().get(name)
    assert sql is not None, f"query {name} lost its oracle"
    ddf = duck.execute(sql).fetchdf()
    sn, sc, sh = canon(sdf)
    dn, dc, dh = canon(ddf)
    assert (sn, sc, sh) == (dn, dc, dh), (
        f"{name}: spark(rows={sn},hash={sh}) vs duck(rows={dn},hash={dh})")
    assert sn > 0, f"{name}: zero rows at {SF} — oracle check is vacuous"
