"""Data profiling, curation, incremental maintenance, and operational
screens — the remainder of the former round-5+ registration tail after
the round-7 family split (stats / finance / graph / privacy / spatial /
ml-eval / sketch / textcorpus now live in their like-named sibling
modules; same registry keys, same oracles). New registrations go in
whichever family module fits, or here for true profiling/ops queries —
placement is cosmetic: the driver's ~50-slot correctness window is
addressed BY NAME via registry._PINNED/_ROTATION, never by import
order.

The profile and skew reports are plain SQL aggregates, so their oracles
are exact. The incremental LSH oracle is the brute-force bipartite
shingle-Jaccard (same construction as the self-dedup oracles in
dedup_queries): LSH candidate generation at these parameters has
false-negative probability < 1e-7 at the 0.5 threshold, and the exact
verify join makes the output a precise subset.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators import dedup as D
from wikipedia_data_pipeline_spark.operators import profiling as P
from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.queries.dedup_queries import SHINGLE_PAIRS_SQL
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


def _profile_col_sql(col: str) -> str:
    return f"""
SELECT '{col}' AS col_name,
       (SELECT count(*) FROM documents) AS n_rows,
       count({col}) AS n_non_null,
       (SELECT count(*) FROM documents) - count({col}) AS n_nulls,
       count(DISTINCT {col}) AS n_distinct,
       CAST(min({col}) AS VARCHAR) AS min_val,
       CAST(max({col}) AS VARCHAR) AS max_val
FROM documents
"""


@register(
    "profile_documents",
    oracle=" UNION ALL ".join(_profile_col_sql(c) for c in _PROFILE_COLS),
)
def profile_documents(spark, sf_dir):
    """ANALYZE-style column profile of the documents table: one wide
    aggregation pass (nulls, exact distincts, stringified min/max per
    column), unpivoted to a row per column."""
    return P.profile_columns(
        load_table(spark, sf_dir, "documents"), _PROFILE_COLS
    )


@register(
    "key_skew_events",
    oracle="""
SELECT user_id AS key, count(*) AS n,
       CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM events) AS share
FROM events GROUP BY user_id ORDER BY n DESC, key ASC LIMIT 20
""",
)
def key_skew_events(spark, sf_dir):
    """Hottest event keys and their table share — the pre-shuffle skew
    diagnostic. One hash agg; the total rides a window over the tiny
    aggregated relation."""
    return P.key_skew_report(load_table(spark, sf_dir, "events"), "user_id", 20)


@register(
    "dedup_incremental_lsh",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 FOR i IN generate_series(1, len(t) - 2)])
              ELSE CAST([] AS VARCHAR[]) END AS s
  FROM tok
)
SELECT a.doc_id AS doc_new, b.doc_id AS doc_old,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
""",
)
def dedup_incremental_lsh(spark, sf_dir):
    """Per-batch incremental near-dup: new docs (doc_id % 10 = 0) vs the
    standing corpus (the rest) through the bipartite LSH bucket join —
    per-batch cost is batch-sized, not corpus-sized. Must equal the
    brute-force bipartite Jaccard oracle exactly."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return D.incremental_lsh_pairs(corpus, batch, 0.5)


@register(
    "text_span_dedup_stats",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
occ AS (
  SELECT doc_id,
         unnest([array_to_string(t[i:i+7], ' ')
                 FOR i IN generate_series(1, len(t) - 7)]) AS g
  FROM tok WHERE len(t) >= 8
),
gd AS (SELECT g, count(DISTINCT doc_id) AS nd FROM occ GROUP BY g)
SELECT o.doc_id, count(*) AS n_spans,
       CAST(sum(CASE WHEN gd.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_spans,
       CAST(sum(CASE WHEN gd.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS dup_ratio
FROM occ o JOIN gd ON o.g = gd.g
GROUP BY o.doc_id
""",
)
def text_span_dedup_stats(spark, sf_dir):
    """Per-document duplicated-span ratio over 8-token grams (the
    exact-substring-dedup signal, Lee et al. 2022). Hash-fingerprinted
    grams keep the shuffles narrow; the oracle recomputes on raw gram
    strings — agreement also demonstrates the fingerprint path is
    collision-clean on this corpus."""
    return D.duplicate_span_stats(load_table(spark, sf_dir, "documents"), 8)


@register(
    "text_duplicate_spans_extract",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
occ AS (
  SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS g
  FROM tok, unnest(generate_series(1, len(t) - 7)) AS u(i)
  WHERE len(t) >= 8
),
gd AS (SELECT g, count(DISTINCT doc_id) AS nd FROM occ GROUP BY g),
dup AS (
  SELECT o.doc_id, o.pos FROM occ o JOIN gd ON o.g = gd.g WHERE gd.nd >= 2
),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
),
spans AS (
  SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         CAST(count(*) + 7 AS BIGINT) AS span_len_tokens
  FROM runs GROUP BY doc_id, grp
)
SELECT s.doc_id, s.span_start, s.span_len_tokens,
       array_to_string(
         t[s.span_start:s.span_start + s.span_len_tokens - 1], ' ')
         AS span_text
FROM spans s JOIN tok USING (doc_id)
""",
)
def text_duplicate_spans_extract(spark, sf_dir):
    """Exact-substring dedup, stage 2 (Lee et al. 2022): the maximal
    duplicated substrings themselves — (doc_id, span_start,
    span_len_tokens, span_text), one row per maximal run of 8-token
    grams that also occur in another document. text_span_dedup_stats
    measures HOW duplicated a document is; this is the relation that
    CUTS the duplicated text out. Hash-fingerprinted grams keep the
    corpus-wide exchange at 8 bytes/key; run reconstruction (islands
    trick) is a doc-partitioned window; the oracle replays the same
    grams on raw strings, so agreement re-proves the fingerprint path
    collision-clean."""
    return D.duplicate_spans_extract(
        load_table(spark, sf_dir, "documents"), 8
    )


@register(
    "sample_shuffle_order",
    oracle="""
SELECT doc_id,
       (((doc_id % 1000003) * 2654435761 + 12345) % 2147483647) % 64 AS shard,
       CAST(row_number() OVER (
            PARTITION BY (((doc_id % 1000003) * 2654435761 + 12345)
                          % 2147483647) % 64
            ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id)
        AS BIGINT) AS shard_pos
FROM documents
""",
)
def sample_shuffle_order(spark, sf_dir):
    """Seeded deterministic training shuffle as (shard, shard_pos):
    md5-keyed pseudo-random order, ranked per shard so no single task
    ever holds a global sort. Byte-identical epoch order across engines
    and reruns."""
    from wikipedia_data_pipeline_spark.operators.sampling import shuffle_order

    return shuffle_order(load_table(spark, sf_dir, "documents"))


@register(
    "text_quality_percentile_gate",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang,
         len(list_distinct(string_split(text, ' ')))
           / len(string_split(text, ' ')) AS ttr
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, ttr,
         percent_rank() OVER (PARTITION BY lang ORDER BY ttr, doc_id) AS pctl
  FROM scored
)
SELECT doc_id, lang, ttr, pctl FROM ranked WHERE pctl >= 0.1
""",
)
def text_quality_percentile_gate(spark, sf_dir):
    """Per-language bottom-decile quality cut on type-token ratio —
    the relative (percentile) curation gate; rank arithmetic is
    integer-derived so the selection is bit-deterministic."""
    from wikipedia_data_pipeline_spark.operators.curation import (
        quality_percentile_gate,
    )

    return quality_percentile_gate(load_table(spark, sf_dir, "documents"), 0.1)


@register(
    "curation_source_cap",
    oracle="""
SELECT doc_id, lang, source, n_chars FROM (
  SELECT doc_id, lang, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) WHERE rn <= 10
""",
)
def curation_source_cap(spark, sf_dir):
    """Per-source document cap (crawl-curation anti-domination): keep
    the 10 longest docs per source with a deterministic tiebreak. One
    row_number window on the source key."""
    from wikipedia_data_pipeline_spark.operators import curation as C

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return C.cap_per_group(
        docs, "source", [F.desc("n_chars"), F.asc("doc_id")], 10
    )


@register(
    "udtf_doc_sentences",
    oracle="""
SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_id, trim(parts[i]) AS sentence,
       CAST(len(list_filter(string_split(trim(parts[i]), ' '),
                            w -> length(w) > 0)) AS BIGINT) AS n_words
FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM documents),
     unnest(generate_series(1, len(parts))) AS u(i)
WHERE length(trim(parts[i])) > 0
""",
)
def udtf_doc_sentences(spark, sf_dir):
    """Python UDTF surface (§2.9 completion): per-document sentence
    explosion through a LATERAL table function — 1 row in, N rows out,
    the shape scalar/pandas UDFs cannot produce."""
    from wikipedia_data_pipeline_spark.operators import udfs as U

    return U.doc_sentences(load_table(spark, sf_dir, "documents"))


@register(
    "source_wikidoc_roundtrip",
    oracle="SELECT doc_id, trim(text) AS text FROM documents",
    eager=True,
)
def source_wikidoc_roundtrip(spark, sf_dir):
    """Custom Python DataSource (Spark 4 API): documents rendered to
    the reference's pseudo-XML corpus format, read back through the
    pluggable `wikidoc` format (one partition per file), must
    round-trip exactly. Covers §2.1's raw-corpus scan as a
    first-class source instead of text-lines + parse."""
    import shutil
    import tempfile

    from wikipedia_data_pipeline_spark.sources.wikidoc import register_wikidoc

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="wdp_wikidoc_")
    out = f"{tmp}/corpus"
    docs.select(
        F.format_string(
            '<doc id="%s" url="file://x" title="d%s">%s</doc>',
            F.col("doc_id"),
            F.col("doc_id"),
            F.col("text"),
        ).alias("value")
    ).write.mode("overwrite").text(out)
    register_wikidoc(spark)

    parsed = pin(
        spark.read.format("wikidoc")
        .load(out)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    )
    parsed.count()  # materialize before the temp dir is removed
    shutil.rmtree(tmp, ignore_errors=True)
    return parsed


@register(
    "sample_token_budget_cut",
    oracle="""
WITH o AS (
  SELECT doc_id,
         (((doc_id % 1000003) * 2654435761 + 12345) % 2147483647) % 64 AS shard,
         CAST(row_number() OVER (
              PARTITION BY (((doc_id % 1000003) * 2654435761 + 12345)
                            % 2147483647) % 64
              ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id)
          AS BIGINT) AS shard_pos
  FROM documents
),
t AS (
  SELECT o.doc_id, o.shard, o.shard_pos,
         CAST(len(list_filter(string_split(d.text, ' '),
                              w -> length(w) > 0)) AS BIGINT) AS n_tokens
  FROM o JOIN documents d ON o.doc_id = d.doc_id
),
c AS (
  SELECT *, CAST(sum(n_tokens) OVER (
        ORDER BY shard_pos, shard
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS cum_tokens
  FROM t
)
SELECT doc_id, shard, shard_pos, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= 25000
""",
)
def sample_token_budget_cut(spark, sf_dir):
    """Token-budget prefix of the deterministic epoch order, via a
    hierarchical (block + within-block) distributed prefix sum — no
    global sort; integer-exact, byte-identical across engines."""
    from wikipedia_data_pipeline_spark.operators.sampling import (
        token_budget_cut,
    )

    return token_budget_cut(
        load_table(spark, sf_dir, "documents"), budget=25_000
    )


@register(
    "curation_funnel_report",
    oracle="""
WITH g AS (
  SELECT doc_id, md5(text) AS h
  FROM documents
  WHERE lang = 'en' AND length(text) >= 20 AND length(text) <= 1000000
),
d AS (SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM g),
cls AS (
  SELECT CASE WHEN doc.lang <> 'en' THEN 'lang_rejected'
              WHEN length(doc.text) < 20 THEN 'too_short'
              WHEN length(doc.text) > 1000000 THEN 'too_long'
              WHEN d.rn > 1 THEN 'duplicate'
              ELSE 'kept' END AS reason,
         doc.n_chars
  FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id
)
SELECT reason, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars_total
FROM cls GROUP BY reason
""",
)
def curation_funnel_report(spark, sf_dir):
    """Attributable corpus shrinkage: per-gate rejection counts for
    the curation pipeline (first-gate-wins classification, duplicate
    = non-representative among gate survivors)."""
    from wikipedia_data_pipeline_spark.operators import curation as C

    return C.curation_funnel(load_table(spark, sf_dir, "documents"))


@register(
    "udf_grouped_agg_median",
    oracle="""
SELECT user_id, median(value) AS median_value
FROM events GROUP BY user_id
""",
)
def udf_grouped_agg_median(spark, sf_dir):
    """GROUPED_AGG pandas UDF (the custom-UDAF surface): exact
    per-user median; even-sized groups average the two middle
    elements identically in numpy and SQL median."""
    from wikipedia_data_pipeline_spark.operators import udfs as U

    return U.user_value_medians(load_table(spark, sf_dir, "events"))


@register(
    "udf_arrow_long_words",
    oracle="""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '),
                            w -> length(w) > 6)) AS BIGINT) AS n_long_words
FROM documents
""",
)
def udf_arrow_long_words(spark, sf_dir):
    """Arrow-optimized scalar Python UDF (useArrow=True) — completes
    the UDF transport matrix (pickled row / Arrow scalar / pandas
    batch / grouped map / grouped agg / UDTF)."""
    from wikipedia_data_pipeline_spark.operators import udfs as U

    return U.arrow_long_words(load_table(spark, sf_dir, "documents"))


@register(
    "training_corpus_build",
    oracle="""
WITH g AS (
  SELECT doc_id, lang, text FROM documents
  WHERE lang = 'en' AND length(text) >= 20 AND length(text) <= 1000000
),
keep AS (
  SELECT doc_id, lang, text FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM g
  ) WHERE rn = 1
),
train AS (
  SELECT * FROM keep
  WHERE (((doc_id % 1000003) * 2654435761 + 12345) % 2147483647) % 100 < 90
),
t AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM train
)
SELECT doc_id, lang, n_tok,
       CAST((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
            // 512 AS BIGINT) AS pack_id
FROM t
""",
)
def training_corpus_build(spark, sf_dir):
    """End-to-end training-corpus assembly, the composite the
    individual operators exist for: curate (language/length gates,
    exact-dedup keep, PII scrub) -> deterministic hash split (train
    bucket) -> greedy 512-token sequence packing. One pipeline of the
    verified pieces; the oracle replays every stage in SQL. (The
    synthetic corpus contains no PII, so the scrub is the identity
    here and the oracle counts tokens on the raw text; the scrub
    itself is driver-verified with injected PII in text_pii_scrub.)"""
    from wikipedia_data_pipeline_spark.operators import curation as C
    from wikipedia_data_pipeline_spark.operators import sampling as S

    docs = load_table(spark, sf_dir, "documents")
    cur = C.curate(docs)
    splits = S.assign_splits(docs).select("doc_id", "split")
    train = (
        cur.join(splits, "doc_id")
        .where(F.col("split") == "train")
        .select("doc_id", "lang", F.col("text_clean").alias("text"))
    )
    return S.pack_sequences(train)


@register(
    "sample_token_mask",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, ' '),
                     x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
                     w -> length(w) > 0) AS ws
  FROM documents
),
p AS (
  SELECT doc_id, g AS pos, ws[g] AS w
  FROM t, unnest(generate_series(1, len(ws))) AS u(g)
),
m AS (
  SELECT doc_id, pos, w,
         (((((doc_id % 1000003) + (pos - 1)) % 1000003) * 2654435761
           + 12345) % 2147483647) % 5 = 0 AS is_masked
  FROM p
)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN is_masked THEN 1 ELSE 0 END) AS BIGINT)
         AS n_masked,
       string_agg(CASE WHEN is_masked THEN '<MASK>' ELSE w END, ' '
                  ORDER BY pos) AS masked_text,
       COALESCE(string_agg(CASE WHEN is_masked THEN w END, ' '
                           ORDER BY pos), '') AS targets
FROM m GROUP BY doc_id
""",
)
def sample_token_mask(spark, sf_dir):
    """Deterministic MLM corruption (1/5 positional mask rate from the
    portable hash, not rand()): identical masks under any partitioning
    or retry — regenerable pretraining data. Narrow map, no shuffle."""
    from wikipedia_data_pipeline_spark.operators.sampling import token_mask

    return token_mask(load_table(spark, sf_dir, "documents"))


@register(
    "sample_contrastive_negatives",
    oracle="""
WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
cand AS (
  SELECT d.doc_id AS anchor_id, CAST(j AS BIGINT) AS j,
         ((((d.doc_id * 31 + j) % 1000003) * 2654435761 + 12345)
          % 2147483647) % ((SELECT max_id FROM mx) + 1) AS nid
  FROM documents d, unnest(generate_series(0, 3)) AS u(j)
)
SELECT anchor_id, j, nid AS neg_doc_id
FROM cand
WHERE nid IN (SELECT doc_id FROM documents) AND nid <> anchor_id
""",
)
def sample_contrastive_negatives(spark, sf_dir):
    """Deterministic contrastive negative pairs (4 hash-derived
    candidates per anchor, self-hits and id gaps dropped) — the
    reproducible alternative to rand() negatives, with no global
    rank."""
    from wikipedia_data_pipeline_spark.operators.sampling import (
        negative_samples,
    )

    return negative_samples(load_table(spark, sf_dir, "documents"), k=4)


@register(
    "data_quality_report",
    oracle="""
SELECT 'orphan_lineitems' AS check_name,
       count(*) AS n_violations
FROM lineitem l WHERE NOT EXISTS
  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orphan_orders_customer', count(*)
FROM orders o WHERE NOT EXISTS
  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'nonpositive_extendedprice', count(*)
FROM lineitem WHERE l_extendedprice <= 0
UNION ALL
SELECT 'null_shipdate', count(*)
FROM lineitem WHERE l_shipdate IS NULL
UNION ALL
SELECT 'discount_out_of_range', count(*)
FROM lineitem WHERE l_discount < 0 OR l_discount > 1
""",
)
def data_quality_report(spark, sf_dir):
    """Data-contract validation: referential integrity (anti joins)
    and range checks, one row per check with its violation count —
    the report a pipeline publishes before promoting a batch. Anti
    joins broadcast the key side where small; each check is a
    count-only aggregate so the union is five tiny rows."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    def count_df(name, df):
        return df.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    checks = [
        count_df(
            "orphan_lineitems",
            li.join(
                orders.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"),
                "left_anti",
            ),
        ),
        count_df(
            "orphan_orders_customer",
            orders.join(
                customer.select("c_custkey"),
                orders.o_custkey == F.col("c_custkey"),
                "left_anti",
            ),
        ),
        count_df(
            "nonpositive_extendedprice",
            li.where(F.col("l_extendedprice") <= 0),
        ),
        count_df("null_shipdate", li.where(F.col("l_shipdate").isNull())),
        count_df(
            "discount_out_of_range",
            li.where((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@register(
    "dedup_cluster_size_histogram",
    oracle="""
WITH g AS (SELECT md5(text) AS h, count(*) AS sz FROM documents GROUP BY 1)
SELECT CAST(least(sz, 10) AS BIGINT) AS cluster_size, count(*) AS n_clusters
FROM g GROUP BY 1
""",
)
def dedup_cluster_size_histogram(spark, sf_dir):
    """Exact-duplicate cluster-size distribution (clamped at 10+) —
    the dedup health metric that says whether duplication is a few
    giant clusters (boilerplate) or a long tail (mirrors). Two stacked
    hash aggs over content fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        g.select(F.least(F.col("sz"), F.lit(10)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


@register(
    "window_rank_variants",
    oracle="""
SELECT c_custkey, c_nationkey, c_acctbal,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       percent_rank() OVER w AS prnk,
       cume_dist() OVER w AS cdist
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
""",
)
def window_rank_variants(spark, sf_dir):
    """The full ranking-function family in one pass: rank, dense_rank,
    percent_rank, cume_dist per nation (total order via the key
    tiebreak; the two ratio functions are integer-over-integer
    divisions, so they compare bit-exactly). One window shuffle."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
    )


@register(
    "window_value_picks",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS last_price,
       nth_value(o_totalprice, 2) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def window_value_picks(spark, sf_dir):
    """first_value / last_value / nth_value with explicit full-frame
    bounds (the default frame silently truncates last/nth at the
    current row — the classic window gotcha, stated explicitly here
    and in the oracle). One window shuffle on the customer key."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    full = base.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.first("o_totalprice").over(base).alias("first_price"),
        F.last("o_totalprice").over(full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(full).alias("second_price"),
    )


@register("dedup_prefix_filter", oracle=SHINGLE_PAIRS_SQL)
def dedup_prefix_filter(spark, sf_dir):
    """AllPairs/PPJoin prefix-filtered EXACT Jaccard ≥ 0.5 join — zero
    false negatives by construction (unlike LSH's probabilistic
    guarantee), candidates bounded by rare-shingle postings. Shares the
    brute-force oracle with dedup_minhash_lsh: all three near-dup paths
    must produce the identical pair set."""
    return D.prefix_filter_pairs(
        load_table(spark, sf_dir, "documents"), 0.5
    )


# --- Salted-join evidence + exact quantile table (round 5) --------------

@register(
    "join_salted_user_enrich",
    oracle="""
WITH s AS (
  SELECT user_id,
         count(*) AS n_user_events,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS user_total
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.event_type, s.n_user_events, s.user_total
FROM events e JOIN s ON e.user_id = s.user_id
""",
)
def join_salted_user_enrich(spark, sf_dir):
    """The skew-salting recipe carried end-to-end as a query: the event
    stream (hot user keys — see key_skew_events) joined to its per-user
    stats through operators.skew.salted_join, which scatters each hot
    key over 16 content-hash salts so no single reducer owns a hot
    user. Salting must be result-invariant — the oracle is the PLAIN
    join, which is the whole point."""
    from wikipedia_data_pipeline_spark.functions import dec_sum
    from wikipedia_data_pipeline_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy(F.col("user_id").alias("s_user")).agg(
        F.count(F.lit(1)).alias("n_user_events"),
        dec_sum("value", "user_total"),
    )
    out = salted_join(
        ev.select("event_id", "user_id", "event_type"),
        stats,
        "user_id",
        "s_user",
        num_salts=16,
    )
    return out.select(
        "event_id", "user_id", "event_type", "n_user_events", "user_total"
    )


@register(
    "dedup_containment",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 FOR i IN generate_series(1, len(t) - 2)])
              ELSE CAST([] AS VARCHAR[]) END AS s
  FROM tok
)
SELECT a.doc_id AS doc_sub, b.doc_id AS doc_super,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
         AS containment
FROM sh a JOIN sh b ON a.doc_id != b.doc_id
WHERE len(a.s) > 0
  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.8
""",
)
def dedup_containment(spark, sf_dir):
    """Directed shingle containment ≥ 0.8 — subset-duplication
    detection (a doc embedded inside a larger host), which symmetric
    Jaccard structurally misses. One-sided prefix filtering keeps the
    candidate join bounded by rare-shingle postings; the oracle is the
    exact all-pairs restatement, so the filter must be lossless. See
    operators/dedup.py:containment_pairs."""
    return D.containment_pairs(load_table(spark, sf_dir, "documents"), 0.8)


# --- NULL-semantics certificate (round 5) -------------------------------

@register(
    "semantics_null_suite",
    oracle="""
WITH t AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'O' THEN NULL
              ELSE o_totalprice END AS a,
         CASE WHEN o_orderpriority LIKE '1%' THEN NULL
              ELSE o_totalprice END AS b
  FROM orders
),
eq AS (
  SELECT count(*) AS n_rows,
         CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_eq,
         CAST(sum(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END)
              AS BIGINT) AS n_eq_nullsafe,
         CAST(count(a) AS BIGINT) AS n_a_nonnull
  FROM t
),
probe AS (SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
                      ELSE o_custkey END AS k FROM orders),
complement AS (
  SELECT
    (SELECT count(*) FROM customer
     WHERE c_custkey NOT IN (SELECT k FROM probe)) AS n_not_in,
    (SELECT count(*) FROM customer c
     WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_custkey))
      AS n_not_exists
)
SELECT * FROM eq, complement
""",
)
def semantics_null_suite(spark, sf_dir):
    """One-row NULL-semantics certificate over derived nullable
    columns: plain `=` vs null-safe `<=>` match counts, and the
    NOT IN / NOT EXISTS divergence — `NOT IN` against a set containing
    a NULL is three-valued-logic-empty (n_not_in = 0) while NOT EXISTS
    counts the real complement. These are the semantics that silently
    corrupt pipelines when an upstream column goes nullable; pinning
    them against the oracle certifies the engine agrees with ANSI on
    every branch."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    t = o.select(
        F.when(F.col("o_orderstatus") == "O", None)
        .otherwise(F.col("o_totalprice"))
        .alias("a"),
        F.when(F.col("o_orderpriority").startswith("1"), None)
        .otherwise(F.col("o_totalprice"))
        .alias("b"),
    )
    eq = t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias("n_eq"),
        F.sum(F.when(F.expr("a <=> b"), 1).otherwise(0)).alias(
            "n_eq_nullsafe"
        ),
        F.count("a").alias("n_a_nonnull"),
    )
    probe = o.select(
        F.when(F.col("o_orderkey") % 2 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("k")
    )
    # NOT IN with a NULL in the probe set: ANSI three-valued logic makes
    # the predicate never-true. Spark's left_anti join is NULL-AWARE
    # only through the SQL NOT IN form, so express it as SQL.
    o.createOrReplaceTempView("wdp_ns_orders")
    probe.createOrReplaceTempView("wdp_ns_probe")
    c.createOrReplaceTempView("wdp_ns_customer")
    spark_ = o.sparkSession
    n_not_in = spark_.sql(
        "SELECT count(*) AS n_not_in FROM wdp_ns_customer "
        "WHERE c_custkey NOT IN (SELECT k FROM wdp_ns_probe)"
    )
    n_not_exists = c.join(
        probe, c["c_custkey"] == probe["k"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_not_exists"))
    return eq.crossJoin(n_not_in).crossJoin(n_not_exists)


@register(
    "order_by_nulls_placement",
    oracle="""
WITH t AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'O' THEN NULL
              ELSE o_totalprice END AS a
  FROM orders
)
SELECT o_orderkey, a FROM t
ORDER BY a ASC NULLS FIRST, o_orderkey ASC
LIMIT 10
""",
)
def order_by_nulls_placement(spark, sf_dir):
    """Explicit NULLS FIRST ordering — pinned because the DEFAULTS
    disagree across engines (Spark ascends nulls-first, DuckDB/ANSI
    implementations commonly nulls-last): any ordered sink consumed by
    another system must declare placement or the handoff is
    nondeterministic."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", None)
        .otherwise(F.col("o_totalprice"))
        .alias("a"),
    )
    return t.orderBy(
        F.col("a").asc_nulls_first(), F.col("o_orderkey").asc()
    ).limit(10)


# --- Fuzzy matching + ABC classification (round 5) ----------------------

@register(
    "dedup_fuzzy_levenshtein",
    oracle="""
WITH k AS (
  SELECT doc_id,
         string_split(text, ' ')[1] AS block_key,
         substring(text, 1, 40) AS head
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
FROM k a JOIN k b
  ON a.block_key = b.block_key AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 5
""",
)
def dedup_fuzzy_levenshtein(spark, sf_dir):
    """Fuzzy near-match detection by edit distance — the entity-
    resolution primitive shingle methods miss (they need shared exact
    n-grams; edit distance tolerates character-level noise like OCR
    errors and typos). Levenshtein is O(len²) per PAIR, so the scale
    discipline is all in candidate generation: block on a cheap exact
    key (first token) and bound the compared prefix (40 chars), so
    cost is Σ block² × 40², never corpus². Both engines implement
    textbook Levenshtein — the distance is integer-exact."""
    docs = load_table(spark, sf_dir, "documents")
    k = docs.select(
        "doc_id",
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("block_key"),
        F.substring("text", 1, 40).alias("head"),
    )
    a = k.select(
        F.col("doc_id").alias("doc_a"),
        F.col("block_key"),
        F.col("head").alias("head_a"),
    )
    b = k.select(
        F.col("doc_id").alias("doc_b"),
        F.col("block_key"),
        F.col("head").alias("head_b"),
    )
    return (
        a.join(b, "block_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("head_a", "head_b").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 5)
    )


# ---------------------------------------------------------------------------
# Watermark lateness audit (batch diagnostic for streaming configs)
# ---------------------------------------------------------------------------

@register(
    "curation_mixture_weights",
    oracle="""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS chars_s
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(chars_s) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS nsrc
  FROM per
),
w AS (
  SELECT source, n_docs, chars_s, total,
         CAST(round(least(4.0, CAST(total AS DOUBLE)
                               / CAST(chars_s * nsrc AS DOUBLE))
                    * 1000000000) AS BIGINT) AS wq
  FROM per, tot
),
den AS (
  SELECT CAST(sum(CAST(wq AS DECIMAL(19,0)) * CAST(chars_s AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS d
  FROM w
)
SELECT source, n_docs, chars_s,
       CAST(chars_s AS DOUBLE) / total AS raw_share,
       CAST(wq AS DOUBLE) / 1000000000 AS weight,
       CAST(CAST(wq AS DECIMAL(19,0)) * CAST(chars_s AS DECIMAL(19,0))
            AS DOUBLE) / CAST(den.d AS DOUBLE) AS effective_share
FROM w, den
ORDER BY source
""",
)
def curation_mixture_weights(spark, sf_dir):
    """Domain-mixture reweighting — the data-mixing step a pretraining
    pipeline runs before sampling: per-source character shares, the
    up/down-sampling weight that steers the mixture toward the uniform
    target (capped at 4x so no tiny domain is over-amplified), and the
    effective post-reweight share the capped weights actually achieve.
    The DoReMi-class knob reduced to its deterministic skeleton:
    weight_s = min(cap, target_share / actual_share).

    Exactness: shares and the raw weight are single fixed-order
    divisions of exact BIGINT character sums; the weight is then
    quantized to nano-units ONCE, so the renormalized effective share
    is a ratio of exact DECIMAL(38,0) integer products — both engines
    emit identical bits (the ml_eval_rater_kappa product discipline).

    Scale shape: one scan -> |sources| rows; everything after is
    driver-tiny arithmetic. Pairs with curation_source_cap (hard
    per-source cap) and sample_weighted_mixture (applying weights)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_s"),
    )
    # |sources| rows consumed by three branches (total, weights, the
    # renormalizer) — persist so the corpus agg runs once

    per = pin(per)
    tot = per.agg(
        F.sum("chars_s").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("nsrc"),
    )
    w = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "chars_s",
        "total",
        F.round(
            F.least(
                F.lit(4.0),
                F.col("total").cast("double")
                / (F.col("chars_s") * F.col("nsrc")).cast("double"),
            )
            * F.lit(1_000_000_000)
        )
        .cast("long")
        .alias("wq"),
    )
    dec = "decimal(19,0)"
    den = w.agg(
        F.sum(F.col("wq").cast(dec) * F.col("chars_s").cast(dec))
        .cast("decimal(38,0)")
        .alias("d")
    )
    return (
        w.crossJoin(F.broadcast(den))
        .select(
            "source",
            "n_docs",
            "chars_s",
            (F.col("chars_s").cast("double") / F.col("total")).alias(
                "raw_share"
            ),
            (F.col("wq").cast("double") / F.lit(1_000_000_000)).alias(
                "weight"
            ),
            (
                (F.col("wq").cast(dec) * F.col("chars_s").cast(dec)).cast(
                    "double"
                )
                / F.col("d").cast("double")
            ).alias("effective_share"),
        )
        .orderBy("source")
    )
