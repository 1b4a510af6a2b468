"""Dedup query registrations (operators.dedup) with exact oracles.

The near-dup oracles are the brute-force all-pairs shingle-Jaccard in
SQL; the Spark side answers via three different physical strategies
(brute force, MinHash-LSH, SimHash blocking) that all converge to the
same verified pair set — LSH params are chosen so the false-negative
probability at the 0.5 threshold is < 1e-7, and SimHash's 16×4-bit
banding catches any pair within hamming 15 by pigeonhole.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikipedia_data_pipeline_spark.operators import dedup as D
from wikipedia_data_pipeline_spark.operators.ranks import pin
from wikipedia_data_pipeline_spark.registry import register
from wikipedia_data_pipeline_spark.sources.tables import load_table

JACCARD_THRESHOLD = 0.5

# Per-document 3-gram shingle sets, and the all-pairs shingle Jaccard
# over them: the brute-force near-dup oracle's building blocks.
_SHINGLE_SETS_CTES = """
tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 FOR i IN generate_series(1, len(t) - 2)])
              ELSE CAST([] AS VARCHAR[]) END AS s
  FROM tok
)"""
_SHINGLE_JACCARD_CTES = f"""{_SHINGLE_SETS_CTES},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)"""

SHINGLE_PAIRS_SQL = f"""
WITH {_SHINGLE_JACCARD_CTES}
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.5
"""


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash, min(doc_id) AS doc_id_kept,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash group-by, representative = min doc_id."""
    return D.exact_duplicates(load_table(spark, sf_dir, "documents"))


@register("dedup_ngram_jaccard_brute", oracle=SHINGLE_PAIRS_SQL)
def dedup_ngram_jaccard_brute(spark, sf_dir):
    """All-pairs 3-gram shingle Jaccard ≥ 0.5 (exact path)."""
    return D.brute_force_pairs(
        load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD
    )


@register("dedup_minhash_lsh", oracle=SHINGLE_PAIRS_SQL)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(128) + 32×4 LSH banding + exact-Jaccard verify — the
    scale path; must equal the brute-force oracle."""
    return D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD
    )


@register("dedup_simhash", oracle=SHINGLE_PAIRS_SQL)
def dedup_simhash(spark, sf_dir):
    """SimHash 64-bit fingerprint blocking + exact-Jaccard verify."""
    return D.simhash_pairs(
        load_table(spark, sf_dir, "documents"), JACCARD_THRESHOLD
    )


@register(
    "dedup_cluster_select",
    oracle="""
WITH RECURSIVE tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                 FOR i IN generate_series(1, len(t) - 2)])
              ELSE CAST([] AS VARCHAR[]) END AS s
  FROM tok
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(doc_id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
)
SELECT doc_id, min(label) AS cluster_id, doc_id = min(label) AS keep
FROM reach GROUP BY doc_id
""",
    eager=True,
)
def dedup_cluster_select(spark, sf_dir):
    """Connected components over verified MinHash-LSH near-dup pairs →
    one kept representative (min doc_id) per duplicate cluster. The
    oracle recomputes components from the brute-force pair set with a
    recursive CTE — Spark's iterative min-label propagation must agree
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return D.near_dup_clusters(docs, D.minhash_lsh_pairs(docs, JACCARD_THRESHOLD))


# --- LSH parameter planner over the TRUE near-dup pairs (round 11) ------

_LSH_CFGS = [(8, 4), (16, 4), (32, 4), (8, 8), (16, 8), (32, 8)]

_LSH_PLANNER_SQL = f"""
WITH {_SHINGLE_SETS_CTES},
pairs AS (
  SELECT CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
),
true_pairs AS (SELECT jaccard FROM pairs WHERE jaccard >= 0.5),
cfg(bands, rows_per_band) AS (
  VALUES (CAST(8 AS BIGINT), CAST(4 AS BIGINT)), (16, 4), (32, 4),
         (8, 8), (16, 8), (32, 8)
),
c1 AS (SELECT bands, rows_per_band, jaccard,
              jaccard * jaccard AS j2 FROM true_pairs, cfg),
c2 AS (SELECT *, j2 * j2 AS j4 FROM c1),
c3 AS (SELECT *, j4 * j4 AS j8 FROM c2),
c4 AS (SELECT *, 1 - (CASE rows_per_band WHEN 4 THEN j4 ELSE j8 END) AS t
       FROM c3),
c5 AS (SELECT *, t * t AS t2 FROM c4),
c6 AS (SELECT *, t2 * t2 AS t4 FROM c5),
c7 AS (SELECT *, t4 * t4 AS t8 FROM c6),
c8 AS (SELECT *, t8 * t8 AS t16 FROM c7),
c9 AS (SELECT *, t16 * t16 AS t32 FROM c8),
cp AS (SELECT bands, rows_per_band,
              1 - (CASE bands WHEN 8 THEN t8 WHEN 16 THEN t16
                   ELSE t32 END) AS p
       FROM c9)
SELECT bands, rows_per_band,
       CAST(count(*) AS BIGINT) AS n_true_pairs,
       CAST(sum(CAST(round(p * 1000000000) AS BIGINT)) AS BIGINT)
         AS exp_detected_nano,
       CAST(sum(CAST(round(p * 1000000000) AS BIGINT)) AS DOUBLE)
         / count(*) / 1000000000 AS exp_recall,
       min(p) AS min_p_detect
FROM cp GROUP BY bands, rows_per_band
"""


@register("dedup_lsh_recall_planner", oracle=_LSH_PLANNER_SQL)
def dedup_lsh_recall_planner(spark, sf_dir):
    """MinHash-LSH parameter planning against GROUND TRUTH: for each
    candidate (bands, rows-per-band) config, the expected recall of the
    TRUE near-dup pairs (exact Jaccard ≥ 0.5 via the zero-false-negative
    prefix-filter join) under the S-curve detection probability
    P(candidate | j) = 1 − (1 − j^r)^b — the table that justifies the
    registered 32×4 config (operators.dedup.LSH_BANDS) with data
    instead of folklore, and prices cheaper configs by the recall they
    give up. min_p_detect is the worst true pair's detection odds (the
    pair most likely to slip through).

    Exactness: j is the exact IEEE quotient both engines already agree
    on (dedup_prefix_filter's oracle); j^r and (1−x)^b are explicit
    squaring CHAINS (j2=j·j, j4=j2·j2, … t32=t16·t16) — identical
    correctly-rounded multiply sequences in both dialects, never a
    transcendental pow(); each pair's p quantizes ONCE to nano-units so
    the cross-pair sum is an associative BIGINT reduction.

    Scale shape: the only heavy work is the prefix-filtered pair join
    (bounded by rare-shingle postings, shared with dedup_prefix_filter);
    the planner arithmetic rides a pairs × 6-config broadcast."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.prefix_filter_pairs(docs, JACCARD_THRESHOLD).select("jaccard")
    cfg = spark.createDataFrame(
        _LSH_CFGS, "bands long, rows_per_band long"
    )
    x = pairs.crossJoin(F.broadcast(cfg))
    x = x.select("*", (F.col("jaccard") * F.col("jaccard")).alias("j2"))
    x = x.select("*", (F.col("j2") * F.col("j2")).alias("j4"))
    x = x.select("*", (F.col("j4") * F.col("j4")).alias("j8"))
    x = x.select(
        "*",
        (
            1
            - F.when(F.col("rows_per_band") == 4, F.col("j4")).otherwise(
                F.col("j8")
            )
        ).alias("t"),
    )
    x = x.select("*", (F.col("t") * F.col("t")).alias("t2"))
    x = x.select("*", (F.col("t2") * F.col("t2")).alias("t4"))
    x = x.select("*", (F.col("t4") * F.col("t4")).alias("t8"))
    x = x.select("*", (F.col("t8") * F.col("t8")).alias("t16"))
    x = x.select("*", (F.col("t16") * F.col("t16")).alias("t32"))
    p = 1 - (
        F.when(F.col("bands") == 8, F.col("t8"))
        .when(F.col("bands") == 16, F.col("t16"))
        .otherwise(F.col("t32"))
    )
    x = x.select("bands", "rows_per_band", p.alias("p"))
    return x.groupBy("bands", "rows_per_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
        F.sum(F.round(F.col("p") * 1_000_000_000).cast("long"))
        .cast("long")
        .alias("exp_detected_nano"),
        (
            F.sum(F.round(F.col("p") * 1_000_000_000).cast("long"))
            .cast("double")
            / F.count(F.lit(1))
            / 1_000_000_000
        ).alias("exp_recall"),
        F.min("p").alias("min_p_detect"),
    )


_CROSS_SOURCE_SQL = f"""
WITH {_SHINGLE_JACCARD_CTES},
np AS (SELECT * FROM pairs WHERE jaccard >= 0.5),
lab AS (
  SELECT least(da.source, db.source) AS source_lo,
         greatest(da.source, db.source) AS source_hi,
         da.source <> db.source AS cross_source,
         CAST(round(np.jaccard * 1000000000) AS BIGINT) AS j_nano
  FROM np
  JOIN documents da ON da.doc_id = np.doc_a
  JOIN documents db ON db.doc_id = np.doc_b
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lab)
SELECT source_lo, source_hi, cross_source,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(j_nano) AS DOUBLE) / (count(*) * 1000000000.0)
         AS mean_jaccard,
       CAST(count(*) AS DOUBLE) / (SELECT n_total FROM tot) AS pair_share
FROM lab
GROUP BY source_lo, source_hi, cross_source
ORDER BY n_pairs DESC, source_lo, source_hi
"""


def _cross_source_texts(spark, sf_dir):
    """(tmap, pairs) of dedup_cross_source_matrix: per (distinct text,
    source) the text's rep id, copy count and whether it shingles; and
    the near-dup pairs over distinct texts."""
    docs = load_table(spark, sf_dir, "documents")
    # per (distinct text, source): copy counts; per text: stable rep id
    ts = docs.groupBy("text", "source").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    reps = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    has_sh = F.size(F.split("text", " ")) >= 3
    pairs = D.prefix_filter_pairs(
        reps.select("doc_id", "text"), JACCARD_THRESHOLD
    )
    tmap = reps.join(ts, "text").select(
        F.col("doc_id").alias("t_id"), "source", "cnt", has_sh.alias("ok")
    )
    return tmap, pairs


def _cross_source_weights(tmap, pairs):
    """One (source_lo, source_hi, cross_source, w, j_nano) row per
    weighted doc-pair class: ``w`` doc pairs at nano-Jaccard ``j_nano``."""
    # (a) cross-text pairs: decompose over both sides' source counts
    a = tmap.select(
        F.col("t_id").alias("doc_a"),
        F.col("source").alias("src_a"),
        F.col("cnt").alias("cnt_a"),
    )
    b = tmap.select(
        F.col("t_id").alias("doc_b"),
        F.col("source").alias("src_b"),
        F.col("cnt").alias("cnt_b"),
    )
    cross_text = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
            (F.col("src_a") != F.col("src_b")).alias("cross_source"),
            (F.col("cnt_a") * F.col("cnt_b")).alias("w"),
            F.round(F.col("jaccard") * 1_000_000_000)
            .cast("long")
            .alias("j_nano"),
        )
    )
    # (b) within-text exact-duplicate pairs (j = 1): C(c,2) same-source,
    # c_i·c_j cross-source — only for texts long enough to shingle
    tsa = tmap.filter("ok").select(
        "t_id", F.col("source").alias("src_a"), F.col("cnt").alias("cnt_a")
    )
    tsb = tmap.filter("ok").select(
        "t_id", F.col("source").alias("src_b"), F.col("cnt").alias("cnt_b")
    )
    within = (
        tsa.join(tsb, "t_id")
        .filter(F.col("src_a") <= F.col("src_b"))
        .select(
            F.col("src_a").alias("source_lo"),
            F.col("src_b").alias("source_hi"),
            (F.col("src_a") != F.col("src_b")).alias("cross_source"),
            F.when(
                F.col("src_a") == F.col("src_b"),
                F.col("cnt_a") * (F.col("cnt_a") - 1) / 2,
            )
            .otherwise(F.col("cnt_a") * F.col("cnt_b"))
            .cast("long")
            .alias("w"),
            F.lit(1_000_000_000).cast("long").alias("j_nano"),
        )
        .filter(F.col("w") > 0)
    )
    return cross_text.unionByName(within)


def _cross_source_cells(lab):
    """Per (source, source) cell: doc-pair count and nano-Jaccard sum."""
    return lab.groupBy("source_lo", "source_hi", "cross_source").agg(
        F.sum("w").cast("long").alias("n_pairs"),
        F.sum(F.col("w") * F.col("j_nano")).cast("long").alias("j_nano_sum"),
    )


def _cross_source_matrix(cells, tot):
    """The output rows: each cell's pairs, mean Jaccard and share of
    ``tot``'s n_total."""
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "source_lo",
            "source_hi",
            "cross_source",
            "n_pairs",
            (
                F.col("j_nano_sum").cast("double")
                / (F.col("n_pairs") * F.lit(1_000_000_000.0))
            ).alias("mean_jaccard"),
            (
                F.col("n_pairs").cast("double")
                / F.col("n_total").cast("double")
            ).alias("pair_share"),
        )
        .orderBy(F.desc("n_pairs"), F.asc("source_lo"), F.asc("source_hi"))
    )


@register("dedup_cross_source_matrix", oracle=_CROSS_SOURCE_SQL)
def dedup_cross_source_matrix(spark, sf_dir):
    """Cross-source near-duplicate contamination matrix: the TRUE
    near-dup pairs (exact Jaccard ≥ 0.5 via the zero-false-negative
    prefix-filter join — dedup_lsh_recall_planner's ground truth)
    attributed to their (source, source) cell — the audit that tells a
    curation pipeline WHERE its duplication comes from: mirror sites
    (cross-source cells), re-crawls (within-source), and which source
    pair to decontaminate first. Per cell: pair count, mean Jaccard
    (per-pair nano-quantized once, associative BIGINT sum), and share
    of all near-dup pairs.

    Scale design — EXACT-FIRST COLLAPSE (the canonical pipeline
    ordering): the expensive near-dup join runs over DISTINCT texts
    only; doc-level pair counts are then reconstructed arithmetically —
    a text pair (ta, tb, j) contributes cnt_a·cnt_b doc pairs per
    (source_a, source_b) combination, and a text with c verbatim
    copies contributes C(c,2) within-source (c_i·c_j cross-source)
    exact-duplicate pairs at j = 1. Output is bit-identical to the
    naive per-doc join (the unchanged quadratic oracle proves it), but
    the join cost no longer scales with the square of the duplication
    factor — on the 100× verbatim-replica the naive form generates
    ~10⁴× the candidate pairs and ran unboundedly; this form does the
    same shingle work ONCE per distinct text. Texts shorter than one
    shingle (no 3-gram) produce no pairs in either engine and are
    excluded from the copy decomposition to match.

    Scale shape: heavy work = prefix-filtered pair join over distinct
    texts (rare-shingle-posting-bounded, never all-pairs); the
    source-count decomposition joins onto the PAIRS relation, and the
    matrix is a |sources|²-bounded aggregate. Quadratic form lives
    only in the ORACLE (dedup_ngram_jaccard_brute convention)."""
    lab = _cross_source_weights(*_cross_source_texts(spark, sf_dir))
    tot = lab.agg(F.sum("w").cast("long").alias("n_total"))
    return _cross_source_matrix(_cross_source_cells(lab), tot)


# ---------------------------------------------------------------------------
# Shard-boundary continuation detection (round 12)
# ---------------------------------------------------------------------------

_CONT_K = 3

_CONT_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, ' '),
           x -> lower(regexp_replace(x, '[^a-zA-Z]', '', 'g'))),
           w -> length(w) > 0) AS toks
  FROM documents
),
hk AS (
  SELECT doc_id,
         array_to_string(toks[1:{_CONT_K}], ' ') AS head,
         array_to_string(toks[-{_CONT_K}:], ' ') AS tail
  FROM t WHERE len(toks) >= {2 * _CONT_K}
)
SELECT a.doc_id AS tail_doc, b.doc_id AS head_doc, a.tail AS overlap
FROM hk a JOIN hk b ON a.tail = b.head AND a.doc_id <> b.doc_id
"""


@register("dedup_doc_continuation", oracle=_CONT_ORACLE)
def dedup_doc_continuation(spark, sf_dir):
    """Shard-boundary continuation detection: pairs where one
    document's last 3 normalized tokens equal another's first 3 —
    the crawl-pipeline symptom of a single page split across extraction
    shards (the complement of exact/near dedup: the two halves share NO
    global fingerprint, only a seam). Candidate pairs for re-stitching
    or seam-dedup before training.

    Scale shape: one narrow map derives the two 3-token boundary
    keys per document, then ONE equi-join on the tail→head key — a
    hash-partitioned short-string join, never all-pairs (boundary keys
    are near-unique, so the join output is match-sized). Exact oracle:
    both engines derive identical normalized boundary strings."""
    from wikipedia_data_pipeline_spark.operators.text import token_array

    docs = load_table(spark, sf_dir, "documents")
    toks = token_array()

    # pin the boundary-key relation: it feeds BOTH sides
    # of the tail=head self-join and Spark does no cross-subtree CSE,
    # so the per-token normalization pass (the query's whole cost)
    # otherwise runs twice (r14, AB_CONTINUATION_r14: 12.16 -> 6.74 s
    # best-of-3 at 100x; a single whole-text-regex variant measured
    # 2.7x SLOWER and is kept in the tool as a rejection)
    hk = pin(
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2 * _CONT_K)
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice("toks", 1, _CONT_K)).alias("head"),
            F.concat_ws(" ", F.slice("toks", -_CONT_K, _CONT_K)).alias(
                "tail"
            ),
        )
    )
    a = hk.select(
        F.col("doc_id").alias("tail_doc"), F.col("tail").alias("overlap")
    )
    b = hk.select(
        F.col("doc_id").alias("head_doc"), F.col("head").alias("overlap")
    )
    return a.join(b, "overlap").filter(
        F.col("tail_doc") != F.col("head_doc")
    ).select("tail_doc", "head_doc", "overlap")


# ---------------------------------------------------------------------------
# Connected components over the verified near-dup pair graph (round 12 s4)
# ---------------------------------------------------------------------------
# Pairwise near-dup relations are NOT clusters: A~B and B~C without A~C
# is common at a 0.5 threshold, and deduplication must still drop the
# whole chain to one representative. Components of the pair graph are
# the canonical cluster assignment (the step after MinHash-LSH in the
# standard pipeline); comp_id = min doc_id is the kept representative.

_CC_ORACLE = f"""
WITH RECURSIVE sp AS (
  SELECT doc_a, doc_b FROM ({SHINGLE_PAIRS_SQL}) q
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM sp
  UNION
  SELECT doc_b AS u, doc_a AS v FROM sp
),
nodes AS (SELECT DISTINCT u AS n FROM edges),
reach(n, r) AS (
  SELECT n, n AS r FROM nodes
  UNION
  SELECT e.u AS n, reach.r FROM edges e JOIN reach ON e.v = reach.n
),
comp AS (SELECT n AS doc_id, min(r) AS comp_id FROM reach GROUP BY n)
SELECT c.doc_id, c.comp_id, CAST(s.sz AS BIGINT) AS comp_size
FROM comp c
JOIN (SELECT comp_id, count(*) AS sz FROM comp GROUP BY 1) s
  USING (comp_id)
"""


@register("dedup_connected_components", oracle=_CC_ORACLE, eager=True)
def dedup_connected_components(spark, sf_dir):
    """Duplicate-cluster assignment: connected components of the
    verified near-dup pair graph (3-gram Jaccard >= 0.5 via
    MinHash-LSH), comp_id = min doc_id in the component. Transitive
    closure is what turns pairwise similarity into the droppable
    cluster a dedup pass actually needs — `dedup_cluster_select` does
    this for byte-exact groups; this is the near-dup generalization.

    Spark side: hash-min label propagation over the once-shuffled edge
    relation (operators/graph.py:connected_components) — exact in
    diameter(G) rounds, detected by an unchanged-label count; the
    oracle is the recursive-CTE transitive closure over the same
    brute-force pair set. EAGER (one job per round).

    r13 (AB_CC_STAR_r13): the propagation rides the GROUP-LINEAR
    ``minhash_lsh_component_edges`` relation — rep-level verified
    pairs plus one star per byte-identical duplicate group — instead
    of the quadratic pair contract, which on a duplication-heavy
    corpus (the 100× replica: 100 copies per text) shrinks the edge
    relation by ~the group size. Same node set, same components, same
    min labels and sizes (equivalence argument in the operator's
    docstring; equality asserted at sf0.01/sf0.1 in the A/B); the
    edges are materialized once (persist + count) so the LSH verify
    lineage does not re-run per undirected-union branch."""
    from wikipedia_data_pipeline_spark.operators import dedup as D
    from wikipedia_data_pipeline_spark.operators import graph as G

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_component_edges(docs, JACCARD_THRESHOLD).persist()
    pairs.count()
    cc = G.connected_components(pairs, src="doc_a", dst="doc_b")
    pairs.unpersist()
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("comp_size"))
    return cc.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("comp_id"),
        F.col("comp_size").cast("long").alias("comp_size"),
    )
