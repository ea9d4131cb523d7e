"""Training-data curation operators (north star, SURVEY.md §2.12):
PII redaction, URL/domain blocklist filtering, boilerplate chunk
removal (C4-style line dedup), greedy sequence packing, SCD2 state
history, and a self-validating approximate-quantile check.

The documents fixture is synthetic word-salad with no real PII or
URLs, so the PII / URL queries *manufacture* their demo columns
deterministically from fixture values (user_id/event_id arithmetic);
the operators themselves (functions/text.py::redact_pii etc.) are
generic column expressions any real corpus would use unchanged.

Portability contract (same as plans/llm_queries.py): md5 hashing,
single-space tokenization, integer-sum-derived ratios, regex syntax
restricted to the Java-regex/RE2 common subset, printf-rendered
fixed-precision floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_pipeline_spark.functions.text import (
    PII_PATTERNS,
    pii_match_count,
    redact_pii,
    tokens,
    word_shingles,
)
from streaming_data_pipeline_spark.functions.quality_rules import (
    gopher_flag_cols,
    gopher_report_aggs,
    gopher_rule_pass,
)
from streaming_data_pipeline_spark.sources.batch import load_table

# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------


def _messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PII-bearing message per event (fixture has none).
    Synthesis requires non-NULL user/type (format_string would render
    the whole message NULL while DuckDB's printf errors): a row without
    an author or type has no message to scrub, so both engines exclude
    it with the identical predicate."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    return ev.select(
        "event_id",
        "event_type",
        F.format_string(
            "reach user%d at user%d@example.com or 10.%d.%d.%d phone %d-%03d-%04d re %s",
            F.col("user_id"),
            F.col("user_id"),
            F.pmod("user_id", F.lit(256)),
            F.pmod("event_id", F.lit(256)),
            F.pmod(F.col("user_id") + F.col("event_id"), F.lit(256)),
            F.pmod("user_id", F.lit(900)) + F.lit(100),
            F.pmod("event_id", F.lit(1000)),
            F.pmod(F.col("user_id") * F.lit(7) + F.col("event_id"), F.lit(10000)),
            F.col("event_type"),
        ).alias("msg"),
    )


def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails / IPv4s / phone numbers and prove the scrub is total.

    Detection and replacement are single JVM regexp expressions inside
    one codegen stage — at 100 TB this is a narrow map over the corpus,
    no shuffle until the final per-type rollup. ``residual_pii`` counts
    matches remaining AFTER redaction (must be 0 for every row).
    """
    msgs = _messages(spark, sf_dir)
    red = msgs.withColumn("redacted", redact_pii(F.col("msg")))
    residual = sum(
        (pii_match_count(F.col("redacted"), k) for k in PII_PATTERNS),
        F.lit(0).cast("long"),
    )
    return (
        red.select(
            "event_type",
            pii_match_count(F.col("msg"), "email").alias("em"),
            pii_match_count(F.col("msg"), "ipv4").alias("ip"),
            pii_match_count(F.col("msg"), "phone").alias("ph"),
            F.length("redacted").cast("long").alias("red_len"),
            residual.alias("residual"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_msgs"),
            F.sum("em").alias("emails_found"),
            F.sum("ip").alias("ips_found"),
            F.sum("ph").alias("phones_found"),
            F.sum("red_len").alias("redacted_chars"),
            F.sum("residual").alias("residual_pii"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# URL / domain blocklist filtering
# --------------------------------------------------------------------------
_DOMAINS = [
    "alpha.example",
    "beta.test",
    "gamma.shop",
    "delta.net",
    "evil.example",
    "spam.test",
    "ads.example",
    "junk.shop",
]
_BLOCKLIST = ["evil.example", "spam.test", "junk.shop"]


def domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop documents whose source URL's domain is blocklisted.

    The blocklist is a tiny dim -> broadcast LEFT ANTI join: every
    executor filters its partitions locally, zero shuffle of the corpus
    side. Domain extraction is one JVM regexp_extract (the same
    expression a crawl-curation pipeline runs over trillions of URLs).
    """
    ev = load_table(spark, sf_dir, "events")
    urls = ev.select(
        "event_id",
        "user_id",
        F.concat(
            F.lit("https://"),
            F.element_at(
                F.array(*[F.lit(d) for d in _DOMAINS]),
                (F.pmod("user_id", F.lit(len(_DOMAINS))) + 1).cast("int"),
            ),
            F.lit("/p/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
    ).withColumn(
        "domain", F.regexp_extract("url", r"https://([^/]+)/", 1)
    )
    block = spark.createDataFrame(
        [(d,) for d in _BLOCKLIST], "blocked_domain string"
    )
    kept = urls.join(
        F.broadcast(block),
        urls.domain == block.blocked_domain,
        "left_anti",
    )
    return (
        kept.groupBy("domain")
        .agg(
            F.count("*").alias("kept_urls"),
            F.countDistinct("user_id").alias("unique_users"),
        )
        .orderBy("domain")
    )


# --------------------------------------------------------------------------
# Boilerplate chunk removal (C4-style line dedup, frequency rule)
# --------------------------------------------------------------------------
_CHUNK = 2  # tokens per chunk (the fixture's "line" analog)
_BOILER_MIN_DOCS = 20  # chunk present in >= this many docs -> boilerplate


def boilerplate_chunk_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove corpus-frequent chunks from every document.

    The C4/RefinedWeb rule "drop any line that appears in many pages"
    re-expressed shuffle-minimally: explode docs into (doc, pos, chunk),
    one hash-agg computes per-chunk document frequency, frequent chunks
    join back (the boilerplate set is small -> broadcast), and the doc
    is reassembled from surviving chunks in position order. No
    driver-side text, no all-pairs comparison; both shuffles key on
    chunk text (near-uniform after the distinct collapse).

    Output is one row per document with the cleaned text's md5 so the
    oracle check covers exact reassembly, not just counts.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_chunks = F.ceil(F.size(toks) / F.lit(_CHUNK)).cast("int")
    # Zero-token guard (same as training_queries' chunk_dup_stats): for
    # an empty/whitespace-only doc, sequence(0, -1) is [0, -1] — TWO
    # phantom ''-chunks the oracle's range(0) never produces.
    chunk_arr = F.when(
        F.size(toks) == 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(toks, i * _CHUNK + 1, _CHUNK), " "),
        )
    )
    chunks = docs.select(
        "doc_id",
        "source",
        F.posexplode(chunk_arr).alias("pos", "chunk"),
    )
    boiler = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= _BOILER_MIN_DOCS)
        .select("chunk", F.lit(True).alias("is_boiler"))
    )
    marked = chunks.join(F.broadcast(boiler), "chunk", "left")
    return (
        marked.groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("is_boiler").isNull(), 1).otherwise(0)).alias(
                "n_kept"
            ),
            F.md5(
                F.array_join(
                    F.transform(
                        # collect_list drops the when()'s NULLs, so the
                        # sorted array is null-free by construction
                        F.sort_array(
                            F.collect_list(
                                F.when(
                                    F.col("is_boiler").isNull(),
                                    F.struct("pos", "chunk"),
                                )
                            )
                        ),
                        lambda s: s.chunk,
                    ),
                    " ",
                )
            ).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Greedy sequence packing (training-batch construction)
# --------------------------------------------------------------------------
_SEQ_TOKENS = 512


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences.

    Classic running-offset packing: within each language, documents in
    doc_id order are laid head-to-tail and a document belongs to the
    sequence where its first token lands (seq = offset DIV budget).
    One window cumsum per language partition — Spark sorts each
    partition once; at 100 TB the partition key would also carry a
    date/shard component so no single language serializes.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    per = docs.select(
        "doc_id", "lang", F.size(tokens(F.col("text"))).cast("long").alias("tc")
    ).withColumn(
        "offset",
        F.sum("tc").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - F.col("tc"),
    )
    return (
        per.withColumn(
            "seq_id", (F.col("offset") / F.lit(_SEQ_TOKENS)).cast("long")
        )
        .groupBy("lang", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tc").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "seq_id")
    )


# --------------------------------------------------------------------------
# SCD2 state history (warehouse dimension build)
# --------------------------------------------------------------------------
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension over the event stream: each
    user's event_type becomes a state with [valid_from, valid_to)
    validity, valid_to = next event's ts (NULL = current row).

    One lead() window per user partition — the standard CDC-to-SCD2
    compaction; at warehouse scale this runs per ingest batch over the
    delta, not the full history.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    ).orderBy("user_id", "valid_from")


# --------------------------------------------------------------------------
# Self-validating approximate quantiles
# --------------------------------------------------------------------------
_QPROBS = [0.25, 0.5, 0.75]
_ACCURACY = 1000  # GK sketch: rank error <= n / accuracy
_RANK_TOL = 0.02


def approx_quantiles_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile validated against its own rank guarantee.

    The sketch value itself is engine-internal (DuckDB can't reproduce
    it), so — like approx_distinct_users — the query emits what IS
    reproducible: for each (group, p), the boolean "the approx value's
    true rank is within 2% of p" (guaranteed: the GK sketch bounds rank
    error by n/accuracy = 0.1% here). The oracle emits literal TRUE.
    """
    # NULL prices are not observations (canonical stats rule): the
    # sketch already skips them, so n and le_cnt must count the same
    # non-null population or the rank check drifts by the NULL fraction
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    approx = orders.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", _QPROBS, _ACCURACY).alias("avals"),
        F.count("*").alias("n"),
    )
    probs = F.array(*[F.lit(p) for p in _QPROBS])
    exploded = approx.select(
        "o_orderpriority",
        "n",
        F.posexplode(F.arrays_zip(probs.alias("p"), F.col("avals").alias("v"))).alias(
            "i", "pv"
        ),
    ).select(
        "o_orderpriority", "n", F.col("pv.p").alias("p"), F.col("pv.v").alias("aval")
    )
    ranked = (
        exploded.alias("a")
        .join(
            orders.select("o_orderpriority", "o_totalprice").alias("o"),
            "o_orderpriority",
        )
        .groupBy("o_orderpriority", "p", "n")
        .agg(
            F.sum(
                F.when(F.col("o.o_totalprice") <= F.col("a.aval"), 1).otherwise(0)
            ).alias("le_cnt")
        )
    )
    return ranked.select(
        "o_orderpriority",
        "p",
        F.col("n").cast("long").alias("n"),
        (
            F.abs(F.col("le_cnt") / F.col("n") - F.col("p")) <= F.lit(_RANK_TOL)
        ).alias("rank_ok"),
    ).orderBy("o_orderpriority", "p")


def corpus_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE composed plan: exact-dedup
    canonical pick -> lexical quality gate -> benchmark decontamination
    -> per-(lang, source) keep audit. Each stage is an operator that
    also ships standalone (dedup_exact_text, quality gates,
    contamination_ngram_overlap); this query proves they compose without
    driver-side glue — one logical plan, Catalyst sees everything.

    Stages (all hash-partitioned, no UDFs):
    1. keep the min-doc_id row per identical text (hash-agg on text +
       semi join; at 100 TB the shuffle key becomes md5(text) — same
       grouping, 16-byte payload);
    2. keep docs with >= 10 tokens and type/token ratio >= 0.5 — pure
       integer array expressions (2*distinct >= total, no floats);
    3. drop the benchmark split (doc_id % 41 == 0) and any doc sharing
       a word-5-gram with it (broadcast bench-gram set + per-doc
       anti join — same shape as contamination_ngram_overlap);
    4. audit: raw vs kept counts and kept token volume per
       (lang, source).
    """
    from streaming_data_pipeline_spark.plans.llm_queries import _BENCH_MOD

    docs = load_table(spark, sf_dir, "documents")
    keepers = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    s1 = docs.join(keepers.select("doc_id"), "doc_id", "semi")
    s2 = s1.withColumn("toks", tokens(F.col("text"))).filter(
        (F.size("toks") >= 10)
        & (2 * F.size(F.array_distinct("toks")) >= F.size("toks"))
    )
    bench_grams = (
        docs.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode(word_shingles(F.col("text"), 5)).alias("gram"))
        .distinct()
    )
    corpus = s2.filter(F.col("doc_id") % _BENCH_MOD != 0)
    contaminated = (
        corpus.select("doc_id", F.explode(word_shingles(F.col("text"), 5)).alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    kept = corpus.join(contaminated, "doc_id", "left_anti")
    raw = docs.groupBy("lang", "source").agg(F.count("*").alias("n_raw"))
    audited = kept.groupBy("lang", "source").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.size("toks")).cast("long").alias("kept_tokens"),
    )
    return (
        raw.join(audited, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            F.col("n_raw").cast("long").alias("n_raw"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
            (
                F.round(F.coalesce("n_kept", F.lit(0)) / F.col("n_raw"), 6)
                + F.lit(0.0)
            ).alias("kept_ratio"),
        )
        .orderBy("lang", "source")
    )


def etl_dead_letter_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing for the wire-ETL chain.

    The reference logs-and-drops malformed JSON (Streamingdag.py:233-234),
    missing-required records (Streamingdag.py:175-181) and low-quality
    rows (Streamingdag.py:227-231). At production scale those records go
    to a dead-letter sink tagged with a failure reason so upstream
    breakage is observable and replayable instead of silently vanishing.

    This query manufactures a deterministically corrupted wire stream
    from the events fixture — 1/97 of payloads truncated (malformed
    JSON), 1/89 stripped of user_id (missing required key), 1/83
    degraded to quality score 25 — and classifies every record exactly
    the way the chain would route it:

    - ``malformed_json`` via PERMISSIVE ``from_json`` with a
      ``columnNameOfCorruptRecord`` side channel (the SURVEY §1.3
      mapping of the reference's JSONDecodeError branch);
    - ``missing_required`` when any of the five required keys parsed to
      NULL (schema'd from_json: absent key == NULL);
    - ``low_quality`` by the reference's E3 score (< 50);
    - ``ok`` otherwise.

    The whole classifier is one parse (a Generate), one codegen'd
    projection and one hash aggregate; a production DLQ writes the same
    classified frame to its own date-partitioned sink (filter reason !=
    'ok') instead of aggregating.
    """
    from pyspark.sql import types as T

    from streaming_data_pipeline_spark.functions.scalars import (
        data_quality_score,
        truthy_str,
    )
    from streaming_data_pipeline_spark.schema import (
        REQUIRED_FIELDS,
        WIRE_JSON_SCHEMA,
    )

    ev = load_table(spark, sf_dir, "events")
    m97 = F.col("event_id") % 97 == 0
    m89 = F.col("event_id") % 89 == 0
    m83 = F.col("event_id") % 83 == 0
    user = (
        F.when(m89, F.lit(None).cast("string"))
        .when(m83, F.lit("unknown"))
        .otherwise(F.col("user_id").cast("string"))
    )
    msg = F.when(m83, F.lit("")).otherwise(F.col("props"))
    val = F.when(m83, F.lit(0.0)).otherwise(F.col("value"))
    payload = F.to_json(
        F.struct(
            F.col("event_id").cast("string").alias("id"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
            msg.alias("message"),
            user.alias("user_id"),
            F.col("event_type").alias("event_type"),
            val.alias("value"),
        )
    )
    wire = ev.select(
        "event_id",
        F.when(m97, F.substring(payload, 1, 10)).otherwise(payload).alias("payload"),
    )

    corrupt_schema = T.StructType(
        list(WIRE_JSON_SCHEMA.fields) + [T.StructField("_corrupt", T.StringType())]
    )
    e = F.from_json(
        F.col("payload"),
        corrupt_schema,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )
    # One parse per payload: a Generate is a node Catalyst neither prunes
    # into per-field from_json copies nor inlines into its consumers (see
    # operators/transforms.parse_wire).
    parsed = wire.select("event_id", F.inline(F.array(e)))
    required_null = F.lit(False)
    for f in REQUIRED_FIELDS:
        required_null = required_null | F.col(f).isNull()
    score = data_quality_score(
        F.col("user_id"),
        F.col("message"),
        F.col("value"),
        truthy_str(F.col("timestamp")),
    )
    reason = (
        F.when(F.col("_corrupt").isNotNull(), "malformed_json")
        .when(required_null, "missing_required")
        .when(score < 50, "low_quality")
        .otherwise("ok")
    )
    return (
        parsed.select("event_id", reason.alias("reason"))
        .groupBy("reason")
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("reason")
    )


QUERIES = {
    "corpus_curation_end_to_end": corpus_curation_end_to_end,
    "etl_dead_letter_routing": etl_dead_letter_routing,
    "pii_redaction_stats": pii_redaction_stats,
    "domain_blocklist_filter": domain_blocklist_filter,
    "boilerplate_chunk_removal": boilerplate_chunk_removal,
    "pack_training_sequences": pack_training_sequences,
    "scd2_user_state": scd2_user_state,
    "approx_quantiles_check": approx_quantiles_check,
}


_MSG_SQL = (
    "printf('reach user%d at user%d@example.com or 10.%d.%d.%d phone "
    "%d-%03d-%04d re %s', user_id, user_id, user_id % 256, event_id % 256, "
    "(user_id + event_id) % 256, user_id % 900 + 100, event_id % 1000, "
    "(user_id * 7 + event_id) % 10000, event_type)"
)
_EMAIL_RE = PII_PATTERNS["email"].replace("'", "''")
_IP_RE = PII_PATTERNS["ipv4"]
_PHONE_RE = PII_PATTERNS["phone"]

# single-copy DuckDB tokenizer (plans/oracle_text.py) — the Spark twin
# is functions.text.tokens
from streaming_data_pipeline_spark.plans.oracle_text import (
    DUCK_TOKS as _TOKS,
    sql_gopher_flag_cases,
    sql_gopher_report_select,
    sql_gopher_rule_pass,
)

ORACLE = {
    # The corruption is deterministic on event_id, so the oracle
    # classifies by the same arithmetic without re-parsing JSON:
    # truncation wins over key-drop wins over degradation, matching the
    # Spark classifier's precedence. ORGANIC dirt routes too (to_json
    # omits NULL fields, so a NULL user_id/props/event_type parses back
    # as a missing required key): user_id/props NULL -> missing unless
    # the m83 degradation already replaced them; event_type NULL ->
    # always missing. Preconditions that keep this arithmetic exact:
    # ts is never NULL (warehouse contract) and a non-degraded row's
    # user+timestamp alone score 50, so organic rows are never
    # low_quality (only the m83 triple-degradation is).
    "etl_dead_letter_routing": """
    WITH classified AS (
      SELECT event_id,
             CASE WHEN event_id % 97 = 0 THEN 'malformed_json'
                  WHEN event_id % 89 = 0
                       OR event_type IS NULL
                       OR (event_id % 83 <> 0
                           AND (user_id IS NULL OR props IS NULL))
                    THEN 'missing_required'
                  WHEN event_id % 83 = 0 THEN 'low_quality'
                  ELSE 'ok' END AS reason
      FROM events
    )
    SELECT reason, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
    FROM classified GROUP BY reason ORDER BY reason
    """,
    "pii_redaction_stats": f"""
    WITH msgs AS (
      SELECT event_type, {_MSG_SQL} AS msg FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ), red AS (
      SELECT event_type, msg,
             regexp_replace(regexp_replace(regexp_replace(msg,
               '{_EMAIL_RE}', '[EMAIL]', 'g'),
               '{_IP_RE}', '[IPV4]', 'g'),
               '{_PHONE_RE}', '[PHONE]', 'g') AS redacted
      FROM msgs
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(SUM(len(regexp_extract_all(msg, '{_EMAIL_RE}'))) AS BIGINT) AS emails_found,
           CAST(SUM(len(regexp_extract_all(msg, '{_IP_RE}'))) AS BIGINT) AS ips_found,
           CAST(SUM(len(regexp_extract_all(msg, '{_PHONE_RE}'))) AS BIGINT) AS phones_found,
           CAST(SUM(length(redacted)) AS BIGINT) AS redacted_chars,
           CAST(SUM(len(regexp_extract_all(redacted, '{_EMAIL_RE}'))
                  + len(regexp_extract_all(redacted, '{_IP_RE}'))
                  + len(regexp_extract_all(redacted, '{_PHONE_RE}'))) AS BIGINT)
             AS residual_pii
    FROM red
    GROUP BY event_type
    ORDER BY event_type
    """,
    "domain_blocklist_filter": f"""
    WITH urls AS (
      SELECT event_id, user_id,
             ['{"','".join(_DOMAINS)}'][CAST(user_id % {len(_DOMAINS)} AS INT) + 1]
               AS domain
      FROM events
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS kept_urls,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_users
    FROM urls
    WHERE domain NOT IN ('{"','".join(_BLOCKLIST)}')
    GROUP BY domain
    ORDER BY domain
    """,
    "boilerplate_chunk_removal": f"""
    WITH chunks AS (
      SELECT doc_id, source, CAST(u.i AS INT) AS pos,
             array_to_string(
               list_slice({_TOKS}, CAST(u.i AS INT) * {_CHUNK} + 1,
                          CAST(u.i AS INT) * {_CHUNK} + {_CHUNK}), ' ') AS chunk
      FROM documents,
           UNNEST(range(CAST(ceil(len({_TOKS}) / {_CHUNK}.0) AS BIGINT))) AS u(i)
    ), boiler AS (
      SELECT chunk FROM chunks GROUP BY chunk
      HAVING COUNT(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}
    )
    SELECT c.doc_id, c.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN b.chunk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           -- COALESCE: a doc whose chunks are ALL boilerplate has an
           -- empty kept list; DuckDB's empty aggregate is NULL while
           -- Spark's collect_list is [] -> md5('') (surfaces at sf0.1,
           -- where fully-boilerplate docs first appear)
           md5(COALESCE(array_to_string(
             list(CASE WHEN b.chunk IS NULL THEN c.chunk END ORDER BY c.pos)
               FILTER (WHERE b.chunk IS NULL), ' '), '')) AS cleaned_md5
    FROM chunks c LEFT JOIN boiler b ON c.chunk = b.chunk
    GROUP BY c.doc_id, c.source
    ORDER BY c.doc_id
    """,
    "pack_training_sequences": f"""
    WITH per AS (
      SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS tc,
             SUM(CAST(len({_TOKS}) AS BIGINT))
               OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - CAST(len({_TOKS}) AS BIGINT) AS "offset"
      FROM documents
    )
    SELECT lang, CAST("offset" // {_SEQ_TOKENS} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tc) AS BIGINT) AS seq_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM per
    GROUP BY lang, seq_id
    ORDER BY lang, seq_id
    """,
    "scd2_user_state": """
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           lead(ts) OVER w IS NULL AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, valid_from
    """,
    "approx_quantiles_check": """
    SELECT o_orderpriority, p, CAST(COUNT(*) AS BIGINT) AS n, TRUE AS rank_ok
    FROM orders, UNNEST([0.25, 0.5, 0.75]) AS u(p)
    WHERE o_totalprice IS NOT NULL
    GROUP BY o_orderpriority, p
    ORDER BY o_orderpriority, p
    """,
}


def _curation_e2e_oracle() -> str:
    """Composed from the same 5-gram SQL generator the contamination
    oracle uses (llm_queries._sql_ngrams) — one source of truth for the
    shingle semantics on the oracle side too."""
    from streaming_data_pipeline_spark.plans.llm_queries import (
        _BENCH_MOD,
        _sql_ngrams,
    )

    grams = _sql_ngrams(5)
    return f"""
    WITH keepers AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
    ),
    s1 AS (
      SELECT d.* FROM documents d
      WHERE d.doc_id IN (SELECT doc_id FROM keepers)
    ),
    s2 AS (
      SELECT doc_id, lang, source, {_TOKS} AS toks FROM s1
      WHERE len({_TOKS}) >= 10
        AND 2 * len(list_distinct({_TOKS})) >= len({_TOKS})
    ),
    bench AS (
      SELECT DISTINCT g.g AS gram
      FROM (SELECT UNNEST({grams}) AS g
            FROM documents WHERE doc_id % {_BENCH_MOD} = 0) AS g(g)
    ),
    contaminated AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT s.doc_id, UNNEST({grams}) AS g
            FROM s1 s
            JOIN s2 USING (doc_id)
            WHERE s.doc_id % {_BENCH_MOD} <> 0) AS c(doc_id, g)
      JOIN bench ON c.g = bench.gram
    ),
    kept AS (
      SELECT * FROM s2
      WHERE doc_id % {_BENCH_MOD} <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    raw AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_raw
      FROM documents GROUP BY lang, source
    )
    SELECT r.lang, r.source, r.n_raw,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           round(COALESCE(k.n_kept, 0) / CAST(r.n_raw AS DOUBLE), 6) + 0.0
             AS kept_ratio
    FROM raw r
    LEFT JOIN (
      SELECT lang, source, COUNT(*) AS n_kept, SUM(len(toks)) AS kept_tokens
      FROM kept GROUP BY lang, source
    ) k ON r.lang = k.lang AND r.source = k.source
    ORDER BY r.lang, r.source
    """


ORACLE["corpus_curation_end_to_end"] = _curation_e2e_oracle()


# The batch events fixture's actual event_type domain (NOT the wire
# stream's EVENT_TYPES vocabulary — an earlier copy of that list here
# flagged every 'view' row and made the domain rule permanently fail).
# One constant feeds both the Spark rule and the oracle SQL below.
_EVENT_TYPE_DOMAIN = ("click", "error", "purchase", "signup", "view")


def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: declarative constraint checks over ``events``
    compiled into ONE conditional-count aggregate pass — the
    expectations screen a training pipeline runs before promoting an
    ingest batch (null checks, domain membership, value ranges, key
    uniqueness), all in a single scan regardless of rule count.

    Each rule is a boolean column expression; the report is one row per
    rule with violation count and pass/fail at a zero-violation
    threshold. Uniqueness (a cross-row property) rides the same output
    via a groupBy-count subplan unioned in. At 100 TB: rules scale as
    map-side conditional sums (no extra scans, no shuffle beyond the
    one-row-per-rule reduce); the uniqueness check is the only shuffle
    and keys on the candidate-key column itself.
    """
    ev = load_table(spark, sf_dir, "events")
    rules = [
        ("event_id_not_null", F.col("event_id").isNull()),
        ("user_id_not_null", F.col("user_id").isNull()),
        (
            # NULL is a violation here (it is not a domain member) —
            # spelled out because NOT IN over NULL is NULL, not TRUE.
            "event_type_in_domain",
            ~F.col("event_type").isin(*_EVENT_TYPE_DOMAIN)
            | F.col("event_type").isNull(),
        ),
        ("value_non_negative", F.col("value") < 0),
        (
            "ts_in_window",
            ~F.col("ts").between("2024-01-01 00:00:00", "2024-12-31 23:59:59")
            | F.col("ts").isNull(),
        ),
    ]
    row_checks = ev.agg(
        *[
            # coalesce: SUM over a zero-row batch is NULL, which would
            # report every rule as passed=NULL instead of the vacuous
            # pass (0 violations) an empty ingest batch actually is.
            F.coalesce(F.sum(F.when(bad, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(name)
            for name, bad in rules
        ]
    )
    long_form = row_checks.unpivot(
        [], [n for n, _ in rules], "rule", "violations"
    )
    dup_keys = (
        ev.groupBy("event_id")
        .count()
        .filter(F.col("count") > 1)
        .agg(F.coalesce(F.sum("count"), F.lit(0)).cast("long").alias("violations"))
        .select(F.lit("event_id_unique").alias("rule"), "violations")
    )
    return (
        long_form.unionByName(dup_keys)
        .withColumn("passed", F.col("violations") == 0)
        .orderBy("rule")
    )


QUERIES["dq_constraint_report"] = dq_constraint_report
ORACLE["dq_constraint_report"] = f"""
WITH row_rules AS (
  SELECT * FROM (VALUES
    ('event_id_not_null',
      (SELECT COUNT(*) FROM events WHERE event_id IS NULL)),
    ('user_id_not_null',
      (SELECT COUNT(*) FROM events WHERE user_id IS NULL)),
    ('event_type_in_domain',
      (SELECT COUNT(*) FROM events WHERE event_type NOT IN
        ({', '.join(repr(t) for t in _EVENT_TYPE_DOMAIN)})
        OR event_type IS NULL)),
    ('value_non_negative',
      (SELECT COUNT(*) FROM events WHERE value < 0)),
    ('ts_in_window',
      (SELECT COUNT(*) FROM events WHERE ts NOT BETWEEN
        TIMESTAMP '2024-01-01 00:00:00' AND TIMESTAMP '2024-12-31 23:59:59'
        OR ts IS NULL)),
    ('event_id_unique',
      (SELECT COALESCE(SUM(c), 0) FROM
        (SELECT COUNT(*) AS c FROM events GROUP BY event_id HAVING COUNT(*) > 1)))
  ) AS t(rule, violations))
SELECT rule, CAST(violations AS BIGINT) AS violations,
       violations = 0 AS passed
FROM row_rules ORDER BY rule
"""


def gopher_rules_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", §A1.1 — public paper), thresholds
    re-centered on this corpus's distribution so each rule actually
    discriminates: word count in [25, 90]; mean word length in
    [3.5, 4.75]; type/token ratio >= 1/3; no single token above 1/8 of
    the words. Per-source report of per-rule failure counts plus the
    pass-all survivor count.

    All rule predicates are integer cross-multiplications (e.g.
    `7*n_words <= 2*chars` for mean>=3.5) — no float thresholds to
    drift cross-engine. Shape: explode -> (doc,token) hash-agg ->
    per-doc hash-agg -> per-source hash-agg; three shuffles, each with
    map-side partial aggregation, nothing driver-side. At 100 TB this
    is the standard two-level rollup; the token agg is the only wide
    stage and it keys on (doc_id, token) — naturally high-cardinality,
    skew-free.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_token = (
        docs.select(
            "doc_id", "source", F.explode(tokens(F.col("text"))).alias("t")
        )
        .groupBy("doc_id", "source", "t")
        .agg(F.count("*").alias("c"), F.sum(F.length("t")).alias("chars"))
    )
    per_doc = per_token.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_types"),
        F.sum("chars").alias("chars"),
        F.max("c").alias("mx"),
    )
    # rule predicates + rollup are the single shared copy
    # (functions/quality_rules.py) — also used by the streaming parity
    # query and the linear-model gate, so a threshold fix cannot
    # half-land across the three plans.
    flagged = per_doc.select("source", *gopher_flag_cols())
    # no total sort (r11): ~20 rows, but the range sampler re-ran the
    # token-HOF stats tail once more just for bounds
    return flagged.groupBy("source").agg(*gopher_report_aggs())


QUERIES["gopher_rules_filter"] = gopher_rules_filter
ORACLE["gopher_rules_filter"] = f"""
WITH per_token AS (
  SELECT doc_id, source, x.t, COUNT(*) AS c, SUM(length(x.t)) AS chars
  FROM documents, LATERAL unnest({_TOKS}) x(t)
  GROUP BY doc_id, source, x.t),
per_doc AS (
  SELECT doc_id, source, SUM(c) AS n_words, COUNT(*) AS n_types,
         SUM(chars) AS chars, MAX(c) AS mx
  FROM per_token GROUP BY doc_id, source),
flagged AS (
  SELECT source,
         {sql_gopher_flag_cases()}
  FROM per_doc)
{sql_gopher_report_select()}
"""


def weighted_sample_docs(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Deterministic weighted sampling without replacement (k=50, weight
    = n_chars) via Efraimidis-Spirakis A-ES keys (public algorithm:
    "Weighted random sampling with a reservoir", IPL 2006): each doc
    gets key = -ln(u)/w with u a per-doc uniform derived from md5, and
    the global k smallest keys are the sample.

    This is THE distributed weighted-sampling shape at 100 TB: the key
    is computed scan-side with no shuffle, and the global top-k is
    TakeOrderedAndProject (per-partition partial top-k merged on the
    driver) — never a global sort. Determinism contract: u =
    (x+1)/2^52 from the first 13 md5 hex chars is bit-exact in both
    engines (power-of-two divide), and the key is quantized to
    DECIMAL(24,12) before ranking so 1-ulp libm ln() differences
    cannot reorder the selection; doc_id breaks exact ties.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    x = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("long")
    u = (x + F.lit(1)).cast("double") / F.lit(float(16**13))
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").alias("weight"),
        (-F.log(u) / F.col("n_chars")).cast("decimal(24,12)").alias("key"),
    )
    picked = keyed.orderBy("key", "doc_id").limit(k)
    from pyspark.sql import Window

    w = Window.orderBy("key", "doc_id")
    return (
        picked.withColumn("rank", F.row_number().over(w))
        .select(
            F.col("rank").cast("long").alias("rank"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("weight").cast("long").alias("weight"),
        )
        .orderBy("rank")
    )


QUERIES["weighted_sample_docs"] = weighted_sample_docs
ORACLE["weighted_sample_docs"] = """
WITH keyed AS (
  SELECT doc_id, n_chars AS weight,
         CAST(-ln((CAST('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 13)
                   AS BIGINT) + 1) / 4503599627370496.0) / n_chars
              AS DECIMAL(24,12)) AS key
  FROM documents WHERE n_chars > 0),
picked AS (SELECT * FROM keyed ORDER BY key, doc_id LIMIT 50)
SELECT CAST(row_number() OVER (ORDER BY key, doc_id) AS BIGINT) AS rank,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(weight AS BIGINT) AS weight
FROM picked ORDER BY rank
"""


def k_anonymity_audit(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """k-anonymity audit over the events table (public privacy model,
    Sweeney 2002): treating (event_type, event date, value band of 10)
    as the quasi-identifier, any combination shared by fewer than k
    rows re-identifies its members. Reports, per event_type, how many
    QI groups exist, how many are below k, and how many rows sit in
    those risky groups — the release-gate metric a curation pipeline
    checks before publishing derived event data.

    Two stacked hash-aggs (QI group sizes, then per-type rollup), all
    integer; the QI keys are high-cardinality and skew-free, so the
    shape is a plain map-side-combined aggregation at any scale.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        # integer band: cents div 1000 == floor(value/10) for the
        # non-negative fixture domain (decimal->long CAST truncates in
        # Spark but rounds in DuckDB, so never cast a fractional)
        F.expr("cast(cast(value as decimal(18,2)) * 100 as long) div 1000").alias(
            "band"
        ),
    )
    groups = ev.groupBy("event_type", "d", "band").agg(
        F.count("*").alias("sz")
    )
    return (
        groups.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("qi_groups"),
            F.sum(F.when(F.col("sz") < k, 1).otherwise(0))
            .cast("long")
            .alias("risky_groups"),
            F.sum(F.when(F.col("sz") < k, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("risky_rows"),
        )
        .orderBy("event_type")
    )


QUERIES["k_anonymity_audit"] = k_anonymity_audit
ORACLE["k_anonymity_audit"] = """
WITH groups AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000 AS band,
         COUNT(*) AS sz
  FROM events GROUP BY 1, 2, 3)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS qi_groups,
       CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS risky_groups,
       CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS risky_rows
FROM groups GROUP BY event_type ORDER BY event_type
"""


def neyman_allocation_sample(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """Variance-proportional stratified sampling (the Neyman-style
    optimal-allocation idea, Neyman 1934 — public; allocation here is
    proportional to each stratum's exact integer variance numerator
    n*Σx²-(Σx)² over event value cents, avoiding the irrational sqrt
    so both engines stay in exact integers — DECIMAL(38) here, HUGEINT
    in DuckDB, since the numerator wraps int64 near sf1): k=100
    samples are apportioned
    across event-type strata by the largest-remainder (Hamilton)
    method — base = k*V_h div V_tot, leftovers to the largest
    remainders — then each stratum draws its quota deterministically
    by md5 rank. Strata with more value dispersion get more samples,
    which is what a label-efficient annotation budget wants.

    Scale shape: variance numerators are one map-side-combined
    hash-agg; the apportionment window runs over the STRATUM frame
    (bounded by the event-type domain, 5 rows); the draw is a bounded
    per-stratum top-k window. Output: per-stratum allocation plus an
    id-sum checksum of the actual draw.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("x"),
    )
    # DECIMAL(38) per the exactness protocol: v = n*sxx - sx^2 over
    # value cents reaches ~1e16 at sf0.1 and grows ~100x per 10x sf, so
    # k*v (and sx*sx one step later) wraps int64 near sf1 — ANSI Spark
    # throws, non-ANSI wraps silently, while DuckDB's HUGEINT SUM stays
    # exact. The docstring's old 'both engines stay in BIGINT' claim
    # was wrong at exactly the scale this query advertises.
    dec = "decimal(38,0)"
    strata = ev.groupBy("event_type").agg(
        F.count("*").alias("n_h"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
    ).select(
        "event_type",
        "n_h",
        (F.col("n_h").cast(dec) * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast(dec)
        .alias("v"),
    )
    tot = strata.agg(F.sum("v").alias("vt"))
    quota = strata.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_h",
        "v",
        F.expr(f"({k}::long * v) div vt").alias("base"),
        F.expr(f"({k}::long * v) % vt").alias("rem"),
    )
    wl = Window.orderBy(F.desc("rem"), F.asc("event_type"))
    leftover = quota.agg((F.lit(k) - F.sum("base")).alias("l"))
    alloc = (
        quota.withColumn("rr", F.row_number().over(wl))
        .crossJoin(F.broadcast(leftover))
        .select(
            "event_type",
            "n_h",
            (F.col("base") + F.when(F.col("rr") <= F.col("l"), 1).otherwise(0))
            .alias("alloc"),
        )
    )
    wd = Window.partitionBy("event_type").orderBy(
        F.md5(F.concat(F.lit("ns:"), F.col("event_id").cast("string"))),
        "event_id",
    )
    drawn = (
        ev.withColumn("rk", F.row_number().over(wd))
        .join(alloc, "event_type")
        .filter(F.col("rk") <= F.col("alloc"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("drawn"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
    )
    return (
        alloc.join(drawn, "event_type")
        .select(
            "event_type",
            F.col("n_h").cast("long").alias("n_rows"),
            F.col("alloc").cast("long").alias("alloc"),
            "drawn",
            "id_checksum",
        )
        .orderBy("event_type")
    )


QUERIES["neyman_allocation_sample"] = neyman_allocation_sample
ORACLE["neyman_allocation_sample"] = """
WITH ev AS (
  SELECT event_type, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM events),
strata AS (
  SELECT event_type, COUNT(*) AS n_h,
         COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS v
  FROM ev GROUP BY event_type),
tot AS (SELECT SUM(v) AS vt FROM strata),
quota AS (
  SELECT event_type, n_h, v,
         (100 * v) // vt AS base, (100 * v) % vt AS rem
  FROM strata, tot),
leftover AS (SELECT 100 - SUM(base) AS l FROM quota),
alloc AS (
  SELECT event_type, n_h,
         base + CASE WHEN row_number() OVER
                 (ORDER BY rem DESC, event_type ASC) <= l
                THEN 1 ELSE 0 END AS alloc
  FROM quota, leftover),
drawn AS (
  SELECT e.event_type,
         CAST(COUNT(*) AS BIGINT) AS drawn,
         CAST(SUM(e.event_id) AS BIGINT) AS id_checksum
  FROM (SELECT event_type, event_id,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY md5('ns:' || CAST(event_id AS VARCHAR)),
                          event_id) AS rk
        FROM ev) e
  JOIN alloc a ON a.event_type = e.event_type
  WHERE e.rk <= a.alloc
  GROUP BY e.event_type)
SELECT a.event_type,
       CAST(a.n_h AS BIGINT) AS n_rows,
       CAST(a.alloc AS BIGINT) AS alloc,
       d.drawn, d.id_checksum
FROM alloc a JOIN drawn d USING (event_type)
ORDER BY a.event_type
"""


def within_doc_dedup(spark: SparkSession, sf_dir: str, chunk: int = 2) -> DataFrame:
    """Intra-document repetition removal: cut each doc into 2-token
    chunks and keep only the FIRST occurrence of each distinct chunk
    within the doc, reassembling in position order — the within-page
    half of repetition cleaning (the corpus-frequency half is
    `boilerplate_chunk_removal`; together they are the C4-style pair).

    Shape (r11): pure per-doc ARRAY expressions — ``array_distinct``
    over the chunk array IS the keep-first-occurrence rule (it preserves
    first-occurrence order, exactly the min-position / order-by-position
    reassembly the posexplode formulation computed), so the whole query
    is one narrow scan + the final doc_id sort. The previous shape
    (posexplode -> two hash-aggs -> join back to the base scan) paid
    three exchanges and re-read the documents scan to recover n_chunks
    (guide §2.4: remove shuffles outright). Output rows are identical:
    docs with zero tokens produce no chunks and are excluded in both
    formulations (the old inner join dropped them; the filter here does
    the same), and the oracle is unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))

    # Let-binding via a 1-element outer transform (see word_shingles):
    # the lambda variable ``a`` holds the token array evaluated ONCE per
    # row instead of once per reference inside the interpreted HOFs.
    def per_doc(a):
        n_chunks = F.ceil(F.size(a) / F.lit(chunk))
        chunk_arr = F.transform(
            F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
            lambda i: F.array_join(F.slice(a, i * chunk + 1, chunk), " "),
        )
        kept = F.array_distinct(chunk_arr)
        return F.struct(
            n_chunks.cast("long").alias("n_chunks"),
            F.size(kept).cast("long").alias("kept_chunks"),
            F.md5(F.array_join(kept, " ")).alias("clean_md5"),
        )

    s = F.element_at(F.transform(F.array(toks), per_doc), 1)
    return (
        # Zero-token docs yield no chunks -> no output row (same as the
        # old posexplode-of-empty-array + inner-join semantics), and the
        # filter keeps sequence(0, -1) off the evaluated path.
        docs.filter(F.size(toks) > 0)
        .select("doc_id", s.alias("s"))
        .select("doc_id", "s.n_chunks", "s.kept_chunks", "s.clean_md5")
        # no total sort (r11): driver compare is order-insensitive; the
        # range sampler re-ran this plan's tail once more just for bounds
    )


QUERIES["within_doc_dedup"] = within_doc_dedup
ORACLE["within_doc_dedup"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
chunks AS (
  SELECT doc_id, CAST(i.i AS BIGINT) AS pos,
         array_to_string(list_slice(toks, CAST(i.i AS INT) * 2 + 1,
                                    CAST(i.i AS INT) * 2 + 2), ' ') AS chunk
  FROM t, UNNEST(range(CAST(ceil(len(toks) / 2.0) AS BIGINT))) AS i(i)),
firsts AS (
  SELECT doc_id, chunk, MIN(pos) AS pos FROM chunks GROUP BY doc_id, chunk),
clean AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS kept_chunks,
         md5(string_agg(chunk, ' ' ORDER BY pos)) AS clean_md5
  FROM firsts GROUP BY doc_id)
SELECT c.doc_id,
       CAST(ceil(len(t.toks) / 2.0) AS BIGINT) AS n_chunks,
       c.kept_chunks, c.clean_md5
FROM clean c JOIN t ON t.doc_id = c.doc_id
ORDER BY c.doc_id
"""


def median_imputation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median imputation with a before/after audit: event values
    are deterministically nulled (event_id % 10 == 0 — the fixture has
    no real nulls, same manufacture convention as the PII queries),
    then filled with their event type's exact median of the SURVIVING
    values; the report shows per-type imputed counts and the mean
    shift in integer cents.

    The exact median reuses the distinct-value cumulative-rank trick
    per type (window over the bounded distinct-cents frame); the fill
    is one broadcast join of the 5-row median table. All integers.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.when(
            F.pmod("event_id", F.lit(10)) == 0, F.lit(None)
        ).otherwise(
            (F.col("value").cast("decimal(18,2)") * 100).cast("long")
        ).alias("cents"),
    )
    present = ev.filter(F.col("cents").isNotNull())
    per_v = present.groupBy("event_type", "cents").agg(F.count("*").alias("c"))
    wv = Window.partitionBy("event_type").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_v.withColumn("cum", F.sum("c").over(wv))
    n = present.groupBy("event_type").agg(F.count("*").alias("n"))
    med = (
        cum.join(n, "event_type")
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.expr("cast(ceil(n * 0.5) as long)"),
                    F.col("cents"),
                )
            ).alias("median_cents")
        )
    )
    filled = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.col("cents").isNull().cast("int").alias("imputed"),
        F.coalesce("cents", "median_cents").alias("filled"),
        "cents",
    )
    return (
        filled.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("imputed").cast("long").alias("n_imputed"),
            F.expr("sum(cents) div count(cents)").cast("long").alias(
                "mean_before_cents"
            ),
            F.expr("sum(filled) div count(*)").cast("long").alias(
                "mean_after_cents"
            ),
        )
        # no total sort (r11): driver compare is order-insensitive; the
        # range sampler re-ran this plan's tail once more just for bounds
    )


QUERIES["median_imputation_audit"] = median_imputation_audit
ORACLE["median_imputation_audit"] = """
WITH ev AS (
  SELECT event_type, event_id,
         CASE WHEN event_id % 10 = 0 THEN NULL
              ELSE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         END AS cents
  FROM events),
present AS (SELECT * FROM ev WHERE cents IS NOT NULL),
per_v AS (SELECT event_type, cents, COUNT(*) AS c
          FROM present GROUP BY 1, 2),
cum AS (
  SELECT event_type, cents,
         SUM(c) OVER (PARTITION BY event_type ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM per_v),
n AS (SELECT event_type, COUNT(*) AS n FROM present GROUP BY 1),
med AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= CAST(ceil(n * 0.5) AS BIGINT)
             THEN cents END) AS median_cents
  FROM cum JOIN n USING (event_type) GROUP BY event_type),
filled AS (
  SELECT ev.event_type,
         CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS imputed,
         COALESCE(cents, median_cents) AS f, cents
  FROM ev JOIN med ON med.event_type = ev.event_type)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(imputed) AS BIGINT) AS n_imputed,
       CAST(SUM(cents) // COUNT(cents) AS BIGINT) AS mean_before_cents,
       CAST(SUM(f) // COUNT(*) AS BIGINT) AS mean_after_cents
FROM filled GROUP BY event_type ORDER BY event_type
"""


# Benford first-digit probabilities log10(1+1/d) in exact ppm literals
# (rounded once, shared verbatim by both engines).
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order prices (public forensic-accounting
    check, Benford 1938/Newcomb 1881): the observed first-digit
    distribution vs the log-law expectation, per digit, with the
    integer ppm deviation — fabricated or unit-corrupted monetary data
    bends this curve long before summary stats notice.

    The first digit comes from the DECIMAL STRING head (no float log10
    near power-of-ten boundaries); expected shares are literal ppm
    constants; observed shares and deviations are integer divisions.
    One projection + one 9-row hash-agg.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias(
            "cents"
        )
    ).filter(F.col("cents") > 0)
    digit = F.substring(F.col("cents").cast("string"), 1, 1).cast("long")
    counted = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("c")
    )
    n = orders.agg(F.count("*").alias("n"))
    expected = F.create_map(
        *[x for d, p in _BENFORD_PPM.items() for x in (F.lit(d), F.lit(p))]
    )
    return (
        counted.crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.col("c").cast("long").alias("observed"),
            F.expr("c * 1000000 div n").cast("long").alias("observed_ppm"),
            expected[F.col("digit")].cast("long").alias("benford_ppm"),
        )
        .withColumn(
            "deviation_ppm",
            F.abs(F.col("observed_ppm") - F.col("benford_ppm")).cast("long"),
        )
        .orderBy("digit")
    )


QUERIES["benford_first_digit_audit"] = benford_first_digit_audit
ORACLE["benford_first_digit_audit"] = f"""
WITH o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
  WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
counted AS (
  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         COUNT(*) AS c
  FROM o GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM o),
exp_tbl AS (
  SELECT * FROM (VALUES
    {", ".join(f"({d}, {p})" for d, p in _BENFORD_PPM.items())}
  ) AS t(digit, benford_ppm))
SELECT CAST(counted.digit AS BIGINT) AS digit,
       CAST(c AS BIGINT) AS observed,
       CAST(c * 1000000 // n AS BIGINT) AS observed_ppm,
       CAST(benford_ppm AS BIGINT) AS benford_ppm,
       CAST(abs(c * 1000000 // n - benford_ppm) AS BIGINT) AS deviation_ppm
FROM counted JOIN exp_tbl ON exp_tbl.digit = counted.digit, n
ORDER BY digit
"""


# Fixed integer weights for the linear quality gate (hand-set to mimic
# the Gopher rule gate's decision boundary on ppm-scaled features;
# shared literals, so both engines score identically).
_LINGATE_W = {
    # grid-searched against the rule gate on the fixture (84.6%
    # decision agreement at sf0.01) — the quadratic word term peaks
    # near the rule band's center, dominance is the main penalty
    "bias": 40_000,
    "w_words": 3_400,         # per word, rewards length up to the peak
    "w_words_sq": -35,        # quadratic penalty pulls back long docs
    "w_dom_ppm": -1,          # per ppm of max-token dominance
}


def linear_model_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine batch model inference: a fixed-weight linear
    classifier over integer document features (word count, TTR ppm,
    dominance ppm) scored as a pure column expression — the
    sign-of-dot-product decision needs no sigmoid, so the whole
    forward pass is exact integer arithmetic inside whole-stage
    codegen. The deployment shape for any linear/logistic quality or
    toxicity model: weights are data (literals here; a broadcast table
    in production), inference is a projection, NOT a UDF.

    Reports per source: gate pass counts and agreement with the
    rule-based `gopher_rules_filter` verdict in ppm — model-vs-rules
    calibration in the same query.
    """
    docs = load_table(spark, sf_dir, "documents")

    # Per-doc stats as pure ARRAY expressions (r11) — the same
    # stream-safe shape streaming_quality_gate already uses: n_words /
    # n_types / chars / mx all fold inside HOFs over the token array
    # (the dominance count is O(tokens^2) worst-case but tokens-per-doc
    # is document-bounded, not corpus-bounded). The previous shape
    # shuffled every token twice (groupBy (doc, source, t) then
    # (doc, source)) just to recover per-doc scalars; this removes both
    # token-keyed exchanges (guide §2.4) and leaves one scan + the final
    # per-source agg. Zero-token docs are excluded in both forms (the
    # explode produced no rows for them; the filter here does the same).
    def per_doc_stats(a):
        dist = F.array_distinct(a)
        return F.struct(
            F.size(a).cast("long").alias("n_words"),
            F.size(dist).cast("long").alias("n_types"),
            F.aggregate(
                F.transform(a, lambda x: F.length(x).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("chars"),
            F.array_max(
                F.transform(
                    dist, lambda t: F.size(F.filter(a, lambda x: x == t))
                )
            ).cast("long").alias("mx"),
        )

    toks = tokens(F.col("text"))
    per_doc = (
        docs.filter(F.size(toks) > 0)
        .select(
            "source",
            F.element_at(
                F.transform(F.array(toks), per_doc_stats), 1
            ).alias("s"),
        )
        .select("source", "s.n_words", "s.n_types", "s.chars", "s.mx")
    )
    w = _LINGATE_W
    feats = per_doc.select(
        "source",
        "n_words",
        F.expr("n_types * 1000000 div n_words").alias("ttr_ppm"),
        F.expr("mx * 1000000 div n_words").alias("dom_ppm"),
        # rule-gate verdict — the shared PASS conjunction (same
        # single-copy thresholds as gopher_rules_filter)
        gopher_rule_pass().alias("rule_pass"),
    )
    scored = feats.withColumn(
        "model_pass",
        (
            F.lit(w["bias"])
            + F.lit(w["w_words"]) * F.col("n_words")
            + F.lit(w["w_words_sq"]) * F.col("n_words") * F.col("n_words")
            + F.lit(w["w_dom_ppm"]) * F.col("dom_ppm")
        )
        > 0,
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("model_pass").cast("int")).cast("long").alias(
                "model_pass"
            ),
            F.sum(F.col("rule_pass").cast("int")).cast("long").alias(
                "rule_pass"
            ),
            F.sum(
                (F.col("model_pass") == F.col("rule_pass")).cast("int")
            ).cast("long").alias("agree"),
            F.expr(
                "sum(cast(model_pass = rule_pass as int)) * 1000000 div count(*)"
            ).cast("long").alias("agreement_ppm"),
        )
        .orderBy("source")
    )


QUERIES["linear_model_quality_gate"] = linear_model_quality_gate
_LW = _LINGATE_W
ORACLE["linear_model_quality_gate"] = f"""
WITH per_token AS (
  SELECT doc_id, source, x.t, COUNT(*) AS c, SUM(length(x.t)) AS chars
  FROM documents, LATERAL unnest({{_TOKS}}) x(t)
  GROUP BY doc_id, source, x.t),
per_doc AS (
  SELECT doc_id, source, SUM(c) AS n_words, COUNT(*) AS n_types,
         SUM(chars) AS chars, MAX(c) AS mx
  FROM per_token GROUP BY doc_id, source),
feats AS (
  SELECT source, n_words,
         n_types * 1000000 // n_words AS ttr_ppm,
         mx * 1000000 // n_words AS dom_ppm,
         {sql_gopher_rule_pass()} AS rule_pass
  FROM per_doc),
scored AS (
  SELECT source, rule_pass,
         ({_LW["bias"]} + {_LW["w_words"]} * n_words
          + ({_LW["w_words_sq"]}) * n_words * n_words
          + ({_LW["w_dom_ppm"]}) * dom_ppm) > 0 AS model_pass
  FROM feats)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN model_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS model_pass,
       CAST(SUM(CASE WHEN rule_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS rule_pass,
       CAST(SUM(CASE WHEN model_pass = rule_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS agree,
       CAST(SUM(CASE WHEN model_pass = rule_pass THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS agreement_ppm
FROM scored GROUP BY source ORDER BY source
"""
ORACLE["linear_model_quality_gate"] = ORACLE["linear_model_quality_gate"].replace(
    "{_TOKS}", _TOKS
)
