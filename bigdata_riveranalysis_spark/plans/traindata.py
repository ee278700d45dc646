"""Training-data curation operators: the corpus-to-training-set stage.

SURVEY.md §2b's LLM-data extension covers dedup/similarity/text-stats;
this module adds the curation steps that sit between a cleaned corpus
and a training run — the operators a 100 TB data pipeline runs last:

  * deterministic train/val/test splitting (hash-bucketed, so the
    split is stable across runs and cluster sizes — no RNG state);
  * stratified source sampling (domain mixing) driven by a broadcast
    mixture-weight table — the "sample The Pile at these ratios" op;
  * PII scrubbing (email / phone / IPv4 masking) with audit counts;
  * benchmark-contamination screening (n-gram overlap against a held
    eval set — the GPT-3/Llama decontamination move);
  * greedy sequence packing into fixed token budgets (what a
    tokenizer-sharding job does before writing training shards).

Determinism contract (same as plans/llmdata.py): hashing is md5-based
via functions.text.hash32 — bit-identical in Spark and DuckDB — so
every operator here has an exact SQL oracle, including the sampling
decisions themselves.

Scale design notes:
  * Split + sample are narrow (filter/project only — no shuffle): a
    hash of the key compares against a threshold per row. At 100 TB
    these run at scan speed and the only exchange is the final stats
    aggregation.
  * The mixture-weight join broadcasts a <1 KB dim table.
  * Contamination explodes eval-set shingles only after a distinct on
    the (tiny) eval side; the join's shuffle key is the shingle, and
    the df-cap note from dedup_ngram_jaccard applies unchanged.
  * Packing is a per-source window cumsum — one shuffle on source,
    and at 100 TB the partition key would widen to (source, shard_id)
    chosen so each window fits an executor; noted inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdata_riveranalysis_spark.functions import exact as EX
from bigdata_riveranalysis_spark.functions import text as TX
from bigdata_riveranalysis_spark.functions.arrays import explode_nonempty
from bigdata_riveranalysis_spark.plans.registry import query
from bigdata_riveranalysis_spark.sources.tables import (
    BATCH_CUTOFF_SQL,
    batch_cutoff,
    load_table,
    spread_small_scan,
)

#: train/val/test bucket edges out of 100 hash buckets (90/5/5).
SPLIT_TRAIN_END = 90
SPLIT_VAL_END = 95

#: Domain-mixing weights per source, in keep-permille (out of 1000).
#: A real pipeline reads this from config; it is data, not code —
#: hence the broadcast-join formulation rather than a CASE chain.
MIX_WEIGHTS = {"src0": 1000, "src1": 750, "src2": 750, "src3": 500, "src4": 500}
MIX_DEFAULT_PERMILLE = 250

#: Token budget per packed training sequence.
PACK_BUDGET = 512

#: Contamination screen: word n-gram order shared with the eval set.
CONTAM_NGRAM = 5
EVAL_SOURCE = "src0"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents table, split-spread only if the scan under-splits
    (conditional — an unconditional repartition would shuffle the raw
    corpus at scale; see sources.tables.spread_small_scan)."""
    return spread_small_scan(
        spark, load_table(spark, sf_dir, "documents"), f"{sf_dir}/documents.parquet"
    )


def _bucket(col: F.Column, mod: int) -> F.Column:
    """Deterministic hash bucket in [0, mod): portable across engines
    and across cluster topologies (unlike rand() or monotonically
    increasing ids). This is what makes the split reproducible."""
    return TX.hash32(col) % mod


def _bucket_sql(expr: str, mod: int) -> str:
    return f"{TX.hash32_sql(expr)} % {mod}"


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------


@query(
    "split_train_val_hash",
    oracle=f"""
    WITH assigned AS (
        SELECT source, n_chars,
               CASE WHEN {_bucket_sql("CAST(doc_id AS VARCHAR)", 100)} < {SPLIT_TRAIN_END} THEN 'train'
                    WHEN {_bucket_sql("CAST(doc_id AS VARCHAR)", 100)} < {SPLIT_VAL_END}   THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars_total
    FROM assigned GROUP BY split, source
    """,
)
def split_train_val_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by hashed doc_id.

    The assignment is a pure function of the document key — stable
    under re-runs, repartitioning, and incremental corpus growth
    (adding documents never moves an existing one between splits),
    which rand()-based splits cannot guarantee. Narrow plan: the
    split column costs one md5 per row at scan speed; the only
    shuffle is the audit aggregation emitted here.
    """
    docs = _docs(spark, sf_dir)
    b = _bucket(F.col("doc_id").cast("string"), 100)
    split = (
        F.when(b < SPLIT_TRAIN_END, "train")
        .when(b < SPLIT_VAL_END, "val")
        .otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars_total"))
    )


# ---------------------------------------------------------------------------
# Stratified source sampling (domain mixing)
# ---------------------------------------------------------------------------


@query(
    "sample_domain_mix",
    oracle=f"""
    WITH weights(source, permille) AS (
        VALUES {", ".join(f"('{s}', {p})" for s, p in MIX_WEIGHTS.items())}
    ),
    decided AS (
        SELECT d.source,
               CASE WHEN {_bucket_sql("CAST(d.doc_id AS VARCHAR)", 1000)}
                         < coalesce(w.permille, {MIX_DEFAULT_PERMILLE})
                    THEN 1 ELSE 0 END AS kept
        FROM documents d LEFT JOIN weights w ON d.source = w.source
    )
    SELECT source, count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_kept,
           {EX.ratio_round4_sql("sum(kept)", "count(*)", 0)} AS realized_rate
    FROM decided GROUP BY source
    """,
)
def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: per-source keep rates from a broadcast weight
    table, decided by hash bucket — deterministic stratified sampling.

    The weight table is configuration (a few hundred sources at
    most), so it rides INSIDE the plan as a literal map expression —
    zero join, zero extra stage: the whole query is scan → project →
    one aggregate exchange. (r9, VERDICT r8 #4/#8: the previous shape
    built a 5-row createDataFrame + broadcast join per call, whose
    driver-side first-touch costs billed this trivial query at
    4.33 s.) Each row's keep/drop decision is a pure function of
    (doc_id, its source's weight): re-running the pipeline or scaling
    the cluster reproduces the identical sample, and per-source rates
    are exact in expectation with no coordination. At 100 TB this is
    the only sane way to mix domains — rand() sampling loses
    reproducibility, and per-source .limit(n) serializes on a single
    partition per source. A weight table too big for a literal map
    (say >10k sources) would go back to an explicit broadcast join.
    """
    docs = _docs(spark, sf_dir)
    wmap = F.create_map(
        [F.lit(x) for kv in MIX_WEIGHTS.items() for x in kv]
    )
    kept = F.when(
        _bucket(F.col("doc_id").cast("string"), 1000)
        < F.coalesce(
            wmap[F.col("source")], F.lit(MIX_DEFAULT_PERMILLE)
        ),
        1,
    ).otherwise(0)
    return (
        docs.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("kept").alias("n_kept"),
            EX.ratio_round4(F.sum("kept"), F.count("*"), 0).alias("realized_rate"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

#: Mask patterns chosen for identical semantics in Java regex (Spark)
#: and RE2 (DuckDB): no backreferences, no lookaround.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
PII_IPV4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


@query(
    "pii_redact_stats",
    oracle=f"""
    WITH scrubbed AS (
        SELECT doc_id, source,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_PHONE}', '<PHONE>', 'g'),
                   '{PII_IPV4}', '<IP>', 'g') AS clean,
               len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_email,
               len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phone,
               len(regexp_extract_all(text, '{PII_IPV4}'))  AS n_ip
        FROM documents
    )
    SELECT source,
           count(*)                                       AS n_docs,
           CAST(sum(n_email) AS BIGINT)                   AS emails_masked,
           CAST(sum(n_phone) AS BIGINT)                   AS phones_masked,
           CAST(sum(n_ip) AS BIGINT)                      AS ips_masked,
           CAST(sum(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
           CAST(sum(length(clean)) AS BIGINT)             AS clean_chars
    FROM scrubbed GROUP BY source
    """,
)
def pii_redact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (email / phone / IPv4 → typed mask tokens) with an
    audit aggregate per source.

    The scrub itself (`scrub_pii`) is the reusable operator; this
    query emits the audit report a compliance pipeline keeps. All
    regexes avoid Java/RE2 dialect divergence (no lookaround, no
    backreferences) so the oracle is exact. The synthetic corpus
    contains no PII — the oracle verifies the zero-redaction identity
    end-to-end, and `tests/test_traindata.py` injects live PII rows
    to verify the masking itself. Narrow plan: regex at scan speed,
    aggregate-only shuffle.
    """
    scrubbed = scrub_pii(_docs(spark, sf_dir))
    touched = F.when(
        F.col("n_email") + F.col("n_phone") + F.col("n_ip") > 0, 1
    ).otherwise(0)
    return scrubbed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_email").alias("emails_masked"),
        F.sum("n_phone").alias("phones_masked"),
        F.sum("n_ip").alias("ips_masked"),
        F.sum(touched).alias("docs_touched"),
        F.sum(F.length("clean")).alias("clean_chars"),
    )


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Add `clean` (masked text) and per-kind match counts to a
    documents frame. Pure column expressions — whole-stage codegen."""
    clean = F.col("text")
    for pat, mask in ((PII_EMAIL, "<EMAIL>"), (PII_PHONE, "<PHONE>"), (PII_IPV4, "<IP>")):
        clean = F.regexp_replace(clean, pat, mask)
    count = lambda pat: F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))  # noqa: E731
    return docs.withColumns(
        {
            "clean": clean,
            "n_email": count(PII_EMAIL),
            "n_phone": count(PII_PHONE),
            "n_ip": count(PII_IPV4),
        }
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination screen
# ---------------------------------------------------------------------------


@query(
    "contamination_ngram_screen",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {TX.TOKENS_SQL.format(c="text")} AS t FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               list_distinct({TX.word_shingles_sql("t", CONTAM_NGRAM)}) AS s
        FROM toks WHERE len(t) >= {CONTAM_NGRAM}
    ),
    eval_grams AS (
        SELECT DISTINCT unnest(s) AS g FROM sh WHERE source = '{EVAL_SOURCE}'
    ),
    train AS (
        SELECT doc_id, len(s) AS n_grams, unnest(s) AS g FROM sh
        WHERE source <> '{EVAL_SOURCE}'
    )
    SELECT t.doc_id, count(*) AS n_shared,
           {EX.ratio_round4_sql("count(*)", "any_value(t.n_grams)", 0)} AS shared_frac
    FROM train t JOIN eval_grams e ON t.g = e.g
    GROUP BY t.doc_id
    """,
)
def contamination_ngram_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination screen: for each training doc, how many of its
    distinct word 5-grams appear anywhere in the held-out eval set
    (here: source '{EVAL_SOURCE}' stands in for the benchmark suite).

    The standard LLM decontamination operator (GPT-3 appendix C /
    Llama 2 §A.6 use 8-13-gram variants of exactly this). Plan shape:
    the eval side collapses to DISTINCT n-grams first — benchmarks
    are tiny relative to the corpus, so at 100 TB that side is a few
    million grams and the join broadcasts; the training side streams
    through exploded at scan speed. Shuffle key is the gram; the
    df-cap skew note from dedup_ngram_jaccard applies if the eval
    set ever contains boilerplate grams.
    """
    docs = _docs(spark, sf_dir)
    tok = TX.tokens("text")
    sh = (
        docs.select("doc_id", "source", tok.alias("t"))
        .filter(F.size("t") >= CONTAM_NGRAM)
        .select(
            "doc_id",
            "source",
            F.array_distinct(TX.word_shingles(F.col("t"), CONTAM_NGRAM)).alias("s"),
        )
    )
    # explode_nonempty, not explode: `s` is a computed 5-gram pipeline
    # and non-empty by the size(t) filter above; a plain explode makes
    # InferFiltersFromGenerate re-evaluate that pipeline per row
    # (measured 15.1 s vs 0.58 s at sf0.1 — functions/arrays.py).
    eval_grams = (
        sh.filter(F.col("source") == EVAL_SOURCE)
        .select(explode_nonempty("s").alias("g"))
        .distinct()
    )
    train = sh.filter(F.col("source") != EVAL_SOURCE).select(
        "doc_id", F.size("s").alias("n_grams"), explode_nonempty("s").alias("g")
    )
    return (
        train.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shared"),
            EX.ratio_round4(F.count("*"), F.any_value("n_grams"), 0).alias("shared_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Data-quality constraint report
# ---------------------------------------------------------------------------


@query(
    "dq_constraint_report",
    oracle="""
    WITH doc_pass AS (
        SELECT count(*) AS n_rows,
               CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS doc_id_not_null,
               count(*) - count(DISTINCT doc_id) AS doc_id_unique,
               CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_matches_text,
               CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS BIGINT) AS lang_in_domain
        FROM documents
    )
    SELECT 'documents' AS tbl, 'doc_id_not_null' AS check_name,
           n_rows, doc_id_not_null AS n_violations FROM doc_pass
    UNION ALL
    SELECT 'documents', 'doc_id_unique', n_rows, doc_id_unique FROM doc_pass
    UNION ALL
    SELECT 'documents', 'n_chars_matches_text', n_rows, n_chars_matches_text FROM doc_pass
    UNION ALL
    SELECT 'documents', 'lang_in_domain', n_rows, lang_in_domain FROM doc_pass
    UNION ALL
    SELECT 'orders', 'custkey_in_customer', count(*),
           CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over the corpus + star
    schema: not-null, key uniqueness, derived-column consistency,
    domain membership, referential integrity — the constraint sweep a
    pipeline runs before promoting a 100 TB snapshot.

    Shape notes: ALL per-table expectations evaluate in ONE scan —
    each check is an algebraic conditional sum, so the whole suite is
    a single aggregate row, unpivoted into report rows afterwards (at
    100 TB, four separate check-queries would read the table four
    times; an expectation suite must be one pass). Uniqueness is a
    TWO-LEVEL aggregate — groupBy(doc_id) partial counts, then
    rows-minus-groups — NOT count_distinct alongside the other
    aggregates, which would force an Expand (row duplication) and a
    wide shuffle of every doc_id for one output row; the two-level
    shuffle carries only (doc_id, 4 small ints) and AQE coalesces it.
    Referential integrity is a broadcast left join counting orphans.
    Violations are COUNTED, not collected: the report stays k rows
    regardless of table size, and a quarantine pass (filter on the
    same predicates) fetches offenders only when a count is non-zero.
    """
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    viol = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    per_key = (
        docs.select(
            "doc_id",
            F.when(F.col("doc_id").isNull(), 1).otherwise(0).alias("f_null"),
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0).alias("f_chars"),
            F.when(~F.col("lang").isin("en", "de", "fr", "es", "zh"), 1)
            .otherwise(0)
            .alias("f_lang"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("c"),
            F.sum("f_null").alias("f_null"),
            F.sum("f_chars").alias("f_chars"),
            F.sum("f_lang").alias("f_lang"),
        )
    )
    one_pass = per_key.agg(
        F.sum("c").alias("n_rows"),
        F.sum("f_null").alias("doc_id_not_null"),
        # count("doc_id") at this level = number of distinct non-null keys.
        (F.sum("c") - F.count("doc_id")).alias("doc_id_unique"),
        F.sum("f_chars").alias("n_chars_matches_text"),
        F.sum("f_lang").alias("lang_in_domain"),
    )
    checks = ("doc_id_not_null", "doc_id_unique", "n_chars_matches_text", "lang_in_domain")
    doc_report = one_pass.select(
        F.lit("documents").alias("tbl"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("check_name"),
                        F.col("n_rows").cast("long").alias("n_rows"),
                        F.col(c).cast("long").alias("n_violations"),
                    )
                    for c in checks
                ]
            )
        ).alias("r"),
    ).select("tbl", "r.check_name", "r.n_rows", "r.n_violations")
    # NO broadcast hint (r8, the q21 review class): the key set is
    # CUSTOMER-cardinality — linear in the corpus, unbroadcastable at
    # the design point; the unhinted left join shuffles on custkey
    # (AQE may still broadcast at small SF from measured bytes).
    ref = (
        orders.join(
            customer.select("c_custkey"),
            orders.o_custkey == F.col("c_custkey"),
            "left",
        )
        .agg(
            F.lit("orders").alias("tbl"),
            F.lit("custkey_in_customer").alias("check_name"),
            F.count("*").alias("n_rows"),
            viol(F.col("c_custkey").isNull()).alias("n_violations"),
        )
        .select("tbl", "check_name", "n_rows", "n_violations")
    )
    return doc_report.unionByName(ref)


# ---------------------------------------------------------------------------
# Incremental (new-batch vs corpus) dedup
# ---------------------------------------------------------------------------

@query(
    "dedup_incremental_exact",
    oracle=f"""
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    new_batch AS (
        SELECT doc_id, md5(text) AS h FROM documents, mx
        WHERE doc_id >= {BATCH_CUTOFF_SQL}
    ),
    corpus AS (
        SELECT md5(text) AS h, min(doc_id) AS first_seen
        FROM documents, mx
        WHERE doc_id < {BATCH_CUTOFF_SQL}
        GROUP BY md5(text)
    )
    SELECT n.doc_id, c.first_seen,
           CASE WHEN c.first_seen IS NOT NULL THEN 1 ELSE 0 END AS is_dup
    FROM new_batch n LEFT JOIN corpus c ON n.h = c.h
    """,
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: today's ingest batch checked against the
    historical corpus index — the shape production dedup actually
    runs (a full-corpus self-join per day at 100 TB would be
    quadratic in wall-clock across days; checking the new N rows
    against a precomputed content-hash index is linear in the batch).

    The corpus side here is derived on the fly (grouped content
    hashes); in production it is a *persisted* index (a bucketed
    table keyed on the hash — see write_bucketed_table), so the daily
    job scans only the batch, shuffles only batch-side hashes, and
    the join against the bucketed index is co-located.
    """
    docs = load_table(spark, sf_dir, "documents")
    cutoff = batch_cutoff(spark, sf_dir)
    new_batch = docs.filter(F.col("doc_id") >= cutoff).select(
        "doc_id", F.md5("text").alias("h")
    )
    corpus = (
        docs.filter(F.col("doc_id") < cutoff)
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("first_seen"))
    )
    return new_batch.join(corpus, "h", "left").select(
        "doc_id",
        "first_seen",
        F.when(F.col("first_seen").isNotNull(), 1).otherwise(0).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# Greedy sequence packing
# ---------------------------------------------------------------------------


@query(
    "seq_pack_greedy",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tok
        FROM documents
    ),
    binned AS (
        SELECT source, n_tok,
               CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tok) / {PACK_BUDGET}) AS BIGINT) AS bin
        FROM sized
    )
    SELECT source, bin, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens_in_bin
    FROM binned GROUP BY source, bin
    """,
)
def seq_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: stream each source's docs in doc_id
    order, cut a new pack whenever the running token count crosses
    the {PACK_BUDGET}-token budget (bin = exclusive-cumsum div
    budget — the one-pass streaming packer; docs longer than the
    budget occupy their own overflowing bin rather than being split,
    matching pack-then-truncate training setups).

    One shuffle (window partition on source). At 100 TB a single
    source can exceed an executor's window, so the real partition key
    widens to (source, hash-bucket-of-doc_id) — each bucket packs
    independently and bins stay budget-bounded; the formulation here
    is that plan with one bucket.
    """
    docs = _docs(spark, sf_dir)
    n_tok = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0))
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    sized = docs.select("doc_id", "source", n_tok.alias("n_tok"))
    binned = sized.select(
        "source",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / PACK_BUDGET).alias("bin"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("tokens_in_bin")
    )


# ---------------------------------------------------------------------------
# Quality-filter funnel
# ---------------------------------------------------------------------------

#: Funnel thresholds (chars, then tokens) — config-as-constants like
#: MIX_WEIGHTS; chosen to discriminate on the synthetic corpus
#: (n_chars spans ~50-550, token counts ~10-110).
FUNNEL_MIN_CHARS = 200
FUNNEL_MIN_TOKENS = 30


@query(
    "docs_quality_funnel",
    oracle=f"""
    WITH staged AS (
        SELECT lang,
               (n_chars >= {FUNNEL_MIN_CHARS}) AS s1,
               (n_chars >= {FUNNEL_MIN_CHARS}
                AND len({TX.TOKENS_SQL.format(c="text")}) >= {FUNNEL_MIN_TOKENS}) AS s2,
               (n_chars >= {FUNNEL_MIN_CHARS}
                AND len({TX.TOKENS_SQL.format(c="text")}) >= {FUNNEL_MIN_TOKENS}
                AND len(list_intersect({TX.TOKENS_SQL.format(c="text")},
                        [{", ".join(f"'{s}'" for s in TX.STOPWORDS)}])) > 0) AS s3
        FROM documents
    )
    SELECT lang,
           count(*)                     AS n_docs,
           count(*) FILTER (WHERE s1)   AS n_len_ok,
           count(*) FILTER (WHERE s2)   AS n_tok_ok,
           count(*) FILTER (WHERE s3)   AS n_clean,
           floor((20000 * count(*) FILTER (WHERE s3) + count(*))
                 / (2 * count(*))) / 10000.0 AS retained_rate
    FROM staged GROUP BY lang
    """,
)
def docs_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-stage quality-filter funnel with per-stage survival counts
    — the "how much corpus does each filter cost me" report every
    curation pipeline runs before committing to thresholds (cf. the
    filter-ablation tables in C4/Gopher/RefinedWeb dataset papers).

    Stages cascade (each implies the previous): length floor → token
    floor → stopword presence (the classic natural-language screen).
    All counts are integers from a SINGLE scan — conditional
    aggregation, not one pass per stage — and the retention rate is
    the exact half-up integer ratio (functions.exact), so the output
    is engine-exact. At 100 TB this is scan speed + a 5-group
    aggregate: the cheapest possible shape for an N-stage report.
    """
    docs = _docs(spark, sf_dir)
    t = TX.tokens("text")
    stop_arr = F.array(*[F.lit(s) for s in TX.STOPWORDS])
    s1 = F.col("n_chars") >= FUNNEL_MIN_CHARS
    s2 = s1 & (F.size(t) >= FUNNEL_MIN_TOKENS)
    s3 = s2 & F.arrays_overlap(t, stop_arr)
    staged = docs.select("lang", s1.alias("s1"), s2.alias("s2"), s3.alias("s3"))
    n, n_clean = F.count("*"), F.count_if("s3")
    return staged.groupBy("lang").agg(
        n.alias("n_docs"),
        F.count_if("s1").alias("n_len_ok"),
        F.count_if("s2").alias("n_tok_ok"),
        n_clean.alias("n_clean"),
        (F.floor((F.lit(20000) * n_clean + n) / (F.lit(2) * n)) / F.lit(10000.0)).alias(
            "retained_rate"
        ),
    )


#: Exact per-stratum sample size for sample_stratified_topn.
STRATIFIED_N = 10


@query(
    "sample_stratified_topn",
    oracle=f"""
    WITH ranked AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {TX.hash32_sql("CAST(doc_id AS VARCHAR)")}, doc_id
               ) AS rnk
        FROM documents
    )
    SELECT source, doc_id, rnk FROM ranked WHERE rnk <= {STRATIFIED_N}
    """,
)
def sample_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-N stratified sampling: precisely {STRATIFIED_N} documents
    per source, selected by deterministic hash rank — the complement
    of sample_domain_mix (which keeps a deterministic FRACTION per
    stratum, so its per-stratum counts vary with corpus size; eval-set
    construction and per-domain probes need exact counts).

    Hash-ordering (md5 of the key, not the key itself) makes the
    sample unbiased w.r.t. ingestion order and stable across runs,
    cluster sizes, AND corpus growth in the retained prefix sense:
    a new doc displaces at most one old pick per stratum. doc_id
    tie-breaks the (collision-improbable) equal hashes so row_number
    is total.

    Scale: the window shuffles each stratum to one reducer — fine for
    N strata ≪ cluster. At 100 TB with huge strata, pre-filter with a
    conservative hash threshold (keep hash < N/n_docs-per-stratum
    × headroom, priced from table stats like the incremental-dedup
    cutoff) so the shuffle carries candidates, not the corpus, then
    rank the survivors identically.
    """
    docs = _docs(spark, sf_dir)
    w = W.partitionBy("source").orderBy(
        TX.hash32(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= STRATIFIED_N)
    )


# ---------------------------------------------------------------------------
# Batch-vs-corpus distribution drift
# ---------------------------------------------------------------------------

#: Drift histogram config (NB equal-width integer-division buckets of
#: n_chars over [0, HI), the last absorbing the tail) and the
#: per-bucket share tolerance (±10 percentage-point-equivalents on the
#: relative share, integer cross-multiplied).
DRIFT_NB = 10
DRIFT_HI = 600


@query(
    "dq_drift_report",
    oracle=f"""
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    base AS (
        SELECT least({DRIFT_NB - 1}, n_chars * {DRIFT_NB} // {DRIFT_HI}) AS bucket,
               (doc_id >= {BATCH_CUTOFF_SQL}) AS is_batch
        FROM documents, mx
    ),
    g AS (
        SELECT bucket,
               count(*) FILTER (WHERE NOT is_batch) AS corpus_n,
               count(*) FILTER (WHERE is_batch)     AS batch_n
        FROM base GROUP BY bucket
    ),
    t AS (
        SELECT bucket, corpus_n, batch_n,
               sum(corpus_n) OVER () AS ct,
               sum(batch_n)  OVER () AS bt
        FROM g
    )
    SELECT bucket, corpus_n, batch_n,
           (abs(batch_n * ct - corpus_n * bt) * 10 <= ct * bt) AS share_within_10pct
    FROM t
    """,
)
def dq_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-drift detector: the new batch's document-length
    distribution against the historical corpus's, per histogram
    bucket, with a share-drift witness — the check that catches a
    crawler change (truncation bug, new boilerplate, encoding shift)
    BEFORE the batch pollutes the corpus. Same batch cutoff as
    dedup_incremental_exact; equal-width length buckets by integer
    division (Spark `div` ≡ DuckDB `//`), so a boundary-length
    document lands in the same bucket in both engines.

    The witness |batch_share − corpus_share| ≤ 0.1 is evaluated as
    |b·Ct − c·Bt|·10 ≤ Ct·Bt — pure integer cross-multiplication over
    counts, so no float division decides a drift alarm. Scale: one
    scan, a ≤{DRIFT_NB}-row aggregate, and window totals over that
    tiny table; the alarm consumer reads {DRIFT_NB} rows regardless
    of corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    cutoff = batch_cutoff(spark, sf_dir)
    bucket = F.least(
        F.lit(DRIFT_NB - 1), F.expr(f"n_chars * {DRIFT_NB} div {DRIFT_HI}")
    )
    g = (
        docs.select(
            bucket.alias("bucket"), (F.col("doc_id") >= cutoff).alias("is_batch")
        )
        .groupBy("bucket")
        .agg(
            F.count_if(~F.col("is_batch")).alias("corpus_n"),
            F.count_if("is_batch").alias("batch_n"),
        )
    )
    w = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    t = g.select(
        "bucket",
        "corpus_n",
        "batch_n",
        F.sum("corpus_n").over(w).alias("ct"),
        F.sum("batch_n").over(w).alias("bt"),
    )
    return t.select(
        "bucket",
        "corpus_n",
        "batch_n",
        (
            F.abs(F.col("batch_n") * F.col("ct") - F.col("corpus_n") * F.col("bt")) * 10
            <= F.col("ct") * F.col("bt")
        ).alias("share_within_10pct"),
    )


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey -> orders' AS fk,
           (SELECT count(*) FROM lineitem) AS n_rows,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem.l_partkey -> part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'customer.c_nationkey -> nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: for each
    foreign-key edge, total rows and orphan count (child keys with no
    parent) — the DQ gate a warehouse runs before publishing a
    snapshot, and the complement of dq_constraint_report's
    single-table rules.

    Scale: each orphan count is a LEFT ANTI join against the parent's
    key projection — dimension parents broadcast; the orders parent
    of lineitem is the one key-shuffled anti join, and Catalyst
    positions it on the same orderkey exchange the fact aggregates
    reuse. Counts are exact longs; output is one row per FK edge, so
    the report is constant-size regardless of corpus.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")

    def audit(fk: str, child: DataFrame, key: str, parent: DataFrame, pkey: str) -> DataFrame:
        # fully declarative — ONE output row per edge, no driver-side
        # .count() loops (the whole report is a single union plan)
        total = child.agg(F.count("*").alias("n_rows"))
        orphans = (
            child.select(key)
            .join(parent.select(pkey), F.col(key) == F.col(pkey), "left_anti")
            .agg(F.count("*").alias("n_orphans"))
        )
        return (
            total.crossJoin(orphans)
            .select(F.lit(fk).alias("fk"), "n_rows", "n_orphans")
        )

    edges = [
        audit("lineitem.l_orderkey -> orders", li, "l_orderkey", orders, "o_orderkey"),
        audit("orders.o_custkey -> customer", orders, "o_custkey", cust, "c_custkey"),
        audit("lineitem.l_partkey -> part", li, "l_partkey", part, "p_partkey"),
        audit("lineitem.l_suppkey -> supplier", li, "l_suppkey", supp, "s_suppkey"),
        audit("customer.c_nationkey -> nation", cust, "c_nationkey", nat, "n_nationkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionAll(e)
    return out


@query(
    "docs_interleave_schedule",
    oracle="""
    WITH d AS (SELECT doc_id, lang AS domain FROM documents),
    r AS (
        SELECT doc_id, domain,
               row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS round_no
        FROM d
    )
    SELECT doc_id, domain, round_no,
           row_number() OVER (ORDER BY round_no, domain) AS pos
    FROM r
    """,
)
def docs_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-interleaved training order: documents are
    dealt round-robin across domains (round 1 takes each domain's
    first doc in domain order, round 2 the seconds, …; exhausted
    domains drop out), yielding the global position every sample
    occupies in the epoch — the data-mixing schedule a trainer
    consumes, made reproducible across runs and cluster sizes.

    The scale move is HOW the global position is computed. The
    obvious formulation — row_number() over (ORDER BY round_no,
    domain) — is a single-reducer global window, banned in this repo.
    Instead the position is ARITHMETIC: with per-domain sizes s(d),

        pos(d, r) = Σ_d' min(s(d'), r-1)  +  |{d' ≤ d : s(d') ≥ r}|

    (everything dealt in earlier rounds, plus this row's rank within
    its own round). Sizes aggregate to one domain-count row that is
    broadcast and folded per-row with higher-order builtins — zero
    additional shuffle beyond the per-domain row_number, and the
    formula is exact for UNEQUAL domain sizes (the fixture's langs
    are 64-218 docs). The banded-prefix trick, in closed form. The
    ORACLE uses the single-reducer window formulation — DuckDB is
    single-node anyway — which independently cross-checks the
    arithmetic against the definitional semantics.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.col("lang").alias("domain"))
    r = d.withColumn(
        "round_no", F.row_number().over(W.partitionBy("domain").orderBy("doc_id"))
    )
    sizes = (
        d.groupBy("domain")
        .agg(F.count("*").alias("sz"))
        .agg(F.array_sort(F.collect_list(F.struct("domain", "sz"))).alias("ds"))
    )
    rn = F.col("round_no")
    dom = F.col("domain")
    pos = F.aggregate(
        "ds",
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.least(s["sz"], rn.cast("long") - 1)
        + F.when((s["sz"] >= rn) & (s["domain"] <= dom), 1).otherwise(0),
    )
    return r.join(F.broadcast(sizes)).select(
        "doc_id", "domain", "round_no", pos.alias("pos")
    )


# ---------------------------------------------------------------------------
# Curation acceptance composition (quality -> dedup -> pack)
# ---------------------------------------------------------------------------

_CURATION_CLEAN_SQL = f"""
        SELECT doc_id, source, text,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tok
        FROM documents
        WHERE n_chars >= {FUNNEL_MIN_CHARS}
          AND len({TX.TOKENS_SQL.format(c="text")}) >= {FUNNEL_MIN_TOKENS}
          AND len(list_intersect({TX.TOKENS_SQL.format(c="text")},
                  [{", ".join(f"'{s}'" for s in TX.STOPWORDS)}])) > 0
"""


@query(
    "curation_acceptance_summary",
    oracle=f"""
    WITH clean AS ({_CURATION_CLEAN_SQL}),
    uniq AS (
        SELECT doc_id, source, n_tok,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM clean
    ),
    kept AS (SELECT doc_id, source, n_tok FROM uniq WHERE rn = 1),
    binned AS (
        SELECT source,
               CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tok) / {PACK_BUDGET}) AS BIGINT) AS bin
        FROM kept
    ),
    stats AS (
        SELECT (SELECT count(*) FROM documents)                          AS n_docs,
               (SELECT count(*) FROM clean)                              AS n_clean,
               (SELECT count(*) FROM kept)                               AS n_unique,
               (SELECT COALESCE(CAST(sum(n_tok) AS BIGINT), 0) FROM kept) AS tokens_packed,
               (SELECT count(*) FROM (SELECT DISTINCT source, bin FROM binned)) AS n_packs
    )
    SELECT n_docs, n_clean, n_unique,
           n_clean - n_unique AS n_dup_dropped,
           n_packs, tokens_packed,
           {EX.ratio_round4_sql("n_clean", "n_docs", 0)}  AS clean_ratio,
           {EX.ratio_round4_sql("n_unique", "n_docs", 0)} AS kept_ratio
    FROM stats
    """,
)
def curation_acceptance_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation acceptance report — the ONE-row accounting
    a training-data deployment signs off on nightly after the full
    curation chain: quality filter → exact dedup → sequence packing
    (VERDICT r14 #4; the curation-tier mirror of
    plans/llmdata.py::dedup_pipeline_summary). Columns: corpus size
    in, docs surviving the quality screen, docs surviving dedup, dup
    copies dropped, packed training sequences produced, total tokens
    packed, and the exact retention ratios at each boundary.

    Composed from the already-verified stage operators and their
    constants — the quality predicate IS docs_quality_funnel's final
    stage (FUNNEL_MIN_CHARS / FUNNEL_MIN_TOKENS / stopword screen),
    dedup keeps the min-doc_id representative per md5(text) group
    like dedup_exact, and packing is seq_pack_greedy's
    exclusive-cumsum bin assignment at PACK_BUDGET over the SURVIVING
    docs. Ratios go through the shared exact-rational half-up
    rounding (functions.exact), never a raw double divide.

    Scale/plan shape: the survivor frame (doc_id, source, n_tok —
    slim, signature-table class) is STAGED once per (application,
    corpus) via the staging memo and read by both consumers (the
    count/token aggregate and the packing window), so the corpus text
    is scanned once per session, not once per consumer; everything
    downstream of the stage is a constant-size aggregate cross-join
    exactly like dedup_pipeline_summary. The dedup window
    (partition by content hash) and the pack window (partition by
    source) are the two shuffles the semantics require; at 100 TB the
    pack window's partition key widens to (source, shard-bucket) as
    documented in seq_pack_greedy.
    """
    from bigdata_riveranalysis_spark.plans.staging import stage

    def build() -> DataFrame:
        docs = _docs(spark, sf_dir)
        t = TX.tokens("text")
        stop_arr = F.array(*[F.lit(s) for s in TX.STOPWORDS])
        clean_pred = (
            (F.col("n_chars") >= FUNNEL_MIN_CHARS)
            & (F.size(t) >= FUNNEL_MIN_TOKENS)
            & F.arrays_overlap(t, stop_arr)
        )
        n_tok = F.size(
            F.regexp_extract_all(
                F.lower("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), F.lit(0)
            )
        )
        clean = docs.filter(clean_pred).select(
            "doc_id", "source", "text", n_tok.alias("n_tok")
        )
        rn = F.row_number().over(W.partitionBy(F.md5("text")).orderBy("doc_id"))
        # keep rn on the staged frame: n_clean = all rows, survivors
        # have rn = 1 — one slim frame serves both stage accountings
        return clean.select("doc_id", "source", "n_tok", rn.alias("rn"))

    uniq = stage(spark, sf_dir, "curation_uniq", build)
    kept = uniq.filter(F.col("rn") == 1)
    counts = uniq.agg(
        F.count("*").alias("n_clean"),
        F.count_if(F.col("rn") == 1).alias("n_unique"),
        F.coalesce(
            F.sum(F.when(F.col("rn") == 1, F.col("n_tok"))), F.lit(0).cast("long")
        ).alias("tokens_packed"),
    )
    w_pack = (
        W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    )
    packs = (
        kept.select(
            "source",
            F.floor((F.sum("n_tok").over(w_pack) - F.col("n_tok")) / PACK_BUDGET).alias(
                "bin"
            ),
        )
        .distinct()
        .agg(F.count("*").alias("n_packs"))
    )
    # raw table, not _docs: the corpus-size count prunes to zero
    # columns and answers from row-group metadata — spread_small_scan's
    # split-spread repartition would add an exchange for nothing
    d = load_table(spark, sf_dir, "documents").agg(F.count("*").alias("n_docs"))
    return (
        d.crossJoin(counts)
        .crossJoin(packs)
        .select(
            "n_docs",
            "n_clean",
            "n_unique",
            (F.col("n_clean") - F.col("n_unique")).alias("n_dup_dropped"),
            "n_packs",
            "tokens_packed",
            EX.ratio_round4(F.col("n_clean"), F.col("n_docs"), 0).alias("clean_ratio"),
            EX.ratio_round4(F.col("n_unique"), F.col("n_docs"), 0).alias("kept_ratio"),
        )
    )
