"""Bucketed-join tests (SCALE.md M6): the same-bucketed tables of
queries/storage._bucketed_pair join with zero shuffle Exchanges, and
that zero-shuffle join returns the shuffled join's rows.

Broadcast is disabled throughout: at real scale neither fact side fits
a broadcast, so the sort-merge join is the plan that matters."""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark.sql import functions as F

from big_data_final_project_spark.data import load_table
from big_data_final_project_spark.plans.audit import audit
from big_data_final_project_spark.queries.storage import _bucketed_pair


@pytest.fixture
def no_broadcast(spark):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _bucketed_join(spark, sf_dir):
    # a fresh frame per use: an executed frame keeps the plan it was
    # planned with, whatever the confs are afterwards
    li_name, o_name = _bucketed_pair(spark, sf_dir)
    return spark.table(li_name).join(
        spark.table(o_name), F.col("l_orderkey") == F.col("o_orderkey")
    )


def test_bucketed_join_has_no_shuffle(spark, sf_dir, no_broadcast):
    """The same-bucketed join plans as one sort-merge join with ZERO
    shuffle Exchanges: the write-time shuffle, paid once, replaces the
    per-query shuffle."""
    facts = audit(_bucketed_join(spark, sf_dir))
    assert facts.shuffles == 0, facts.text
    assert facts.sortmerge_joins == 1, facts.text


def test_bucketed_join_matches_shuffled_join(spark, sf_dir, no_broadcast):
    """The zero-shuffle sort-merge join returns the same row multiset
    as the plain tables' shuffled sort-merge join."""
    bucketed = _bucketed_join(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    plain = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    assert audit(plain).shuffles > 0, audit(plain).text
    got = Counter(map(tuple, bucketed.collect()))
    assert got == Counter(map(tuple, plain.collect()))
    assert got
