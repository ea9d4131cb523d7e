"""Curation-surface tests: PII redaction, blocklist filtering,
boilerplate removal, sequence packing, SCD2, approx-quantile check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_query_matches_oracle, count_plan_expressions


@pytest.mark.parametrize(
    "name",
    [
        "corpus_curation_end_to_end",
        "pii_redaction_stats",
        "domain_blocklist_filter",
        "boilerplate_chunk_removal",
        "pack_training_sequences",
        "scd2_user_state",
        "approx_quantiles_check",
    ],
)
def test_curation_queries_match_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name, SF_DIR)


def test_redaction_is_total(spark):
    """After redact_pii, no PII pattern matches anywhere (the query's
    residual_pii aggregate must be 0 in every group)."""
    from streaming_data_pipeline_spark.plans.curation_queries import (
        pii_redaction_stats,
    )

    rows = pii_redaction_stats(spark, SF_DIR).collect()
    assert rows and all(r.residual_pii == 0 for r in rows)
    assert all(r.emails_found == r.n_msgs for r in rows)  # one email per msg


def test_redact_pii_examples(spark):
    from streaming_data_pipeline_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@corp.example.org now",),
            ("host 192.168.10.250 up",),
            ("call 415-555-0199 today",),
            ("plain text stays",),
        ],
        "s string",
    ).select(redact_pii(F.col("s")).alias("r"))
    got = [r.r for r in df.collect()]
    assert got == [
        "mail [EMAIL] now",
        "host [IPV4] up",
        "call [PHONE] today",
        "plain text stays",
    ]


def test_blocklist_filter_is_broadcast_anti_join(spark):
    """The blocklist must broadcast (corpus side never shuffles) and the
    blocked domains must be absent from the result."""
    from streaming_data_pipeline_spark.plans.curation_queries import (
        _BLOCKLIST,
        domain_blocklist_filter,
    )

    out = domain_blocklist_filter(spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    domains = {r.domain for r in out.collect()}
    assert domains and not (domains & set(_BLOCKLIST))


def test_packing_preserves_doc_partition(spark):
    """Every doc lands in exactly one sequence; per-language token totals
    are preserved by the packing."""
    from streaming_data_pipeline_spark.plans.curation_queries import (
        pack_training_sequences,
    )
    from streaming_data_pipeline_spark.functions.text import tokens
    from streaming_data_pipeline_spark.sources.batch import load_table

    packed = pack_training_sequences(spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents")
    want = {
        (r.lang): (r.n, r.tok)
        for r in docs.groupBy("lang")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.size(tokens(F.col("text")))).alias("tok"),
        )
        .collect()
    }
    got = {
        r.lang: (r.n, r.tok)
        for r in packed.groupBy("lang")
        .agg(F.sum("n_docs").alias("n"), F.sum("seq_tokens").alias("tok"))
        .collect()
    }
    assert got == want


def test_scd2_intervals_are_contiguous(spark):
    """For each user: exactly one current row, and valid_to of row k
    equals valid_from of row k+1 (no gaps, no overlaps)."""
    from streaming_data_pipeline_spark.plans.curation_queries import scd2_user_state
    from pyspark.sql import Window

    scd = scd2_user_state(spark, SF_DIR)
    per_user = scd.groupBy("user_id").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_current")
    )
    assert per_user.filter(F.col("n_current") != 1).count() == 0
    w = Window.partitionBy("user_id").orderBy("valid_from")
    gaps = scd.withColumn("nxt", F.lead("valid_from").over(w)).filter(
        F.col("valid_to").isNotNull() & (F.col("valid_to") != F.col("nxt"))
    )
    assert gaps.count() == 0


def test_dead_letter_routing_parses_each_payload_once(spark):
    """Each classifier field read must come from one parse, not from a
    per-field from_json copy Catalyst's JSON pruning would make of
    every getField on a projected from_json."""
    import __spark_entry__ as entry

    df = entry.queries()["etl_dead_letter_routing"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert count_plan_expressions(plan, "JsonToStructs") == 1
