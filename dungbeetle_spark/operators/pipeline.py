"""Training-data pipeline operators: dedup clustering, term scoring,
dataset splitting.

Three op classes a 100 TB corpus pipeline needs beyond pairwise dedup
(SURVEY.md §2 addendum):

- **dedup_components** — duplicate CLUSTERS from near-dup pairs via
  iterative min-label propagation (the Pregel/GraphX shape expressed
  on DataFrames). Pairs alone can't drive "keep one per group":
  transitive duplicates (A~B, B~C) must collapse into one component.
- **tfidf_top_terms** — per-document top-k terms by a log-free tf-idf
  variant (tf·N/df). Dropping the log keeps the score an exact
  integer ratio, so ranking is bit-identical cross-engine (ln() last-
  ulp differences between libms would make rank ties nondeterministic).
- **hash_split_train_test** — deterministic train/test assignment by
  md5-prefix range. Content-hash splitting is the reproducible way to
  partition a corpus that is re-ingested incrementally: a document's
  split never depends on what else arrived.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dungbeetle_spark.functions.texts import norm_text
from dungbeetle_spark.planmode import (
    materialize_concurrently,
    maybe_count,
    maybe_local_checkpoint,
)
from dungbeetle_spark.queries import _t, query

_CC_MAX_ITERS = 20


def connected_components(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Min-label propagation with pointer jumping:
    (doc_id) × (doc_a, doc_b) → (doc_id, component).

    Each round does (1) a neighbor step — every node takes the min
    label across its edges — and (2) a pointer-jump step — every node
    re-reads the CURRENT label of its labelholder, halving chain depth
    like union-find path compression. Convergence is O(log diameter),
    so the iteration cap is a pathology guard, not a correctness
    bound; hitting it raises instead of silently returning unconverged
    labels. ``localCheckpoint`` truncates lineage each round — the
    standard Spark iterative-algorithm contract (GraphX does the same
    internally).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint(eager=False)
    )
    labels = nodes.select("doc_id", F.col("doc_id").alias("component")).localCheckpoint(eager=False)
    for _ in range(_CC_MAX_ITERS):
        # (1) neighbor step: min label over incident edges
        prop = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component").alias("cand"))
        )
        stepped = labels.join(prop, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("component"), F.coalesce("cand", "component")).alias(
                "component"
            ),
        )
        # (2) pointer jump: component ← its labelholder's component
        holder = stepped.select(
            F.col("doc_id").alias("h_id"), F.col("component").alias("h_comp")
        )
        jumped = (
            stepped.join(holder, stepped.component == holder.h_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce("h_comp", "component")
                ).alias("component"),
            )
            # lazy: the convergence count below is the action that
            # materializes this round's labels
            .localCheckpoint(eager=False)
        )
        changed = (
            jumped.join(
                labels.select("doc_id", F.col("component").alias("prev")), "doc_id"
            )
            .filter(F.col("component") != F.col("prev"))
        )
        labels = jumped
        if changed.isEmpty():
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {_CC_MAX_ITERS} rounds "
        "(graph diameter > 2^20 — not a duplicate graph)"
    )


# The components fixpoint as DuckDB CTEs (3-gram Jaccard pairs →
# symmetric edges → recursive transitive closure), shared by the
# dedup_components oracle and the canonical-keep oracle built on it.
_COMPONENTS_CTES = """
    words AS (
      SELECT doc_id,
             regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM words, UNNEST(range(1, greatest(len(w) - 3 + 2, 1))) AS t(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.10),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node)"""


@query(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE
    {_COMPONENTS_CTES}
    SELECT node AS doc_id, MIN(lbl) AS component FROM reach GROUP BY node
    """,
    doc="Duplicate clustering: near-dup pairs (exact 3-gram Jaccard "
    "≥ 0.1, same contract as dedup_ngram_jaccard) grow into connected "
    "components via iterative min-label propagation — one shuffle per "
    "round, rounds bounded by cluster diameter, lineage checkpointed. "
    "component = min doc_id of the cluster, i.e. the canonical keeper. "
    "The oracle replays the fixpoint as a DuckDB recursive CTE "
    "(transitive closure + MIN) — an exact cross-engine check of an "
    "ITERATIVE distributed algorithm.",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dungbeetle_spark.operators.dedup import dedup_ngram_jaccard

    d = _t(spark, sf_dir, "documents")["documents"]
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(d.select("doc_id"), pairs)


def _canonical_keep_oracle() -> str:
    from dungbeetle_spark.operators.text import _quality_cte_sql

    return f"""
    WITH RECURSIVE
    {_COMPONENTS_CTES},
    comp AS (
      SELECT node AS doc_id, MIN(lbl) AS component FROM reach GROUP BY node),
    {_quality_cte_sql()},
    ranked AS (
      SELECT c.doc_id, c.component, s.quality,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY s.quality DESC, c.doc_id) AS rk
      FROM comp c JOIN scored s ON c.doc_id = s.doc_id)
    SELECT doc_id, component, quality, rk = 1 AS keep FROM ranked
    """


@query(
    "dedup_canonical_keep",
    oracle=_canonical_keep_oracle(),
    doc="Canonical-document selection — the step that turns duplicate "
    "CLUSTERS into a deduplicated corpus: within each connected "
    "component (same pair contract as dedup_components) keep the "
    "highest-QUALITY member (quality_score's rational-arithmetic "
    "rule score; ties break on doc_id), drop the rest. Emits every "
    "document with its component, quality, and keep verdict, so the "
    "drop set is auditable rather than silently deleted — singleton "
    "components keep their only member by construction. The oracle "
    "composes the recursive-CTE components fixpoint with the quality "
    "CTE and replays the argmax relationally.",
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: reuses the components labels (iterative, one
    shuffle per round) and the quality projection (scan-side codegen,
    no shuffle); the argmax is ONE window over the component key —
    duplicate clusters are small by construction, so the window
    partition sizes are bounded and skew-safe. Keep-selection by
    quality (not min-id) is what real curation does: the shortest or
    most boilerplate-laden copy should lose, whichever crawl shard it
    arrived in first."""
    from dungbeetle_spark.operators.text import quality_score

    comp = dedup_components(spark, sf_dir)
    q = quality_score(spark, sf_dir)
    w = W.partitionBy("component").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        comp.join(q, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "component",
            "quality",
            (F.col("rk") == 1).alias("keep"),
        )
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             UNNEST(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
      FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w AS term,
             tf.tf * (SELECT n FROM n) / CAST(df.df AS DOUBLE) AS score
      FROM tf JOIN df ON tf.w = df.w),
    ranked AS (
      SELECT doc_id, term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rk
      FROM scored)
    SELECT doc_id, term, rk AS rank, score FROM ranked WHERE rk <= 3
    """,
    doc="Per-document top-3 terms by tf·N/df (log-free tf-idf: the "
    "score stays an exact integer ratio — one IEEE division, "
    "bit-identical cross-engine, so ranks can't wobble on libm ln() "
    "differences). tf and df come from the same exploded projection; "
    "df joins back on the term (the shuffle moves (term, df) pairs, "
    "not documents); WindowGroupLimit prunes to 3 rows per doc "
    "pre-shuffle.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    words = d.select(
        "doc_id", F.explode(F.split(norm_text(F.col("text")), " ")).alias("w")
    )
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))  # tf rows = distinct docs
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df, "w")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            ((F.col("tf") * F.col("n")) / F.col("df").cast("double")).alias("score"),
        )
    )
    w_rank = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "rank", "score")
    )


@query(
    "hash_split_train_test",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
    doc="Deterministic ~80/20 train/test split by md5-prefix range "
    "('cd' = 205/256 ≈ 80.1%): assignment depends only on the key, so "
    "re-ingesting or re-partitioning the corpus never moves a document "
    "across the split — the reproducibility contract training "
    "pipelines need. Pure narrow projection; no shuffle at any scale.",
)
def hash_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")["documents"]
    return d.select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd", "train"
        )
        .otherwise("test")
        .alias("split"),
    )


def _corpus_clean_oracle() -> str:
    # Each gate's oracle SQL comes from the operator it composes, so a
    # formula fix there propagates here (same contract on both sides).
    from dungbeetle_spark.functions.texts import content_md5_sql
    from dungbeetle_spark.operators.text import _lang_guess_sql, _quality_cte_sql

    return f"""
    WITH {_quality_cte_sql()},
    langs AS (SELECT doc_id, {_lang_guess_sql()} AS guessed_lang FROM documents),
    keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents
      GROUP BY {content_md5_sql()})
    SELECT doc_id, quality, guessed_lang
    FROM scored JOIN langs USING (doc_id) JOIN keepers USING (doc_id)
    WHERE quality >= 0.6 AND guessed_lang = 'en'
    """


@query(
    "corpus_clean",
    oracle=_corpus_clean_oracle(),
    doc="The composed corpus-cleaning pass an LLM ingest actually "
    "runs, as ONE query: quality gate (rule score ≥ 0.6) ∧ language "
    "gate (heuristic guess = en) ∧ exact-dedup keeper (min doc_id per "
    "content hash) — built by composing the quality_score, lang_id, "
    "and dedup_exact operators, proving the registry's pieces stack "
    "into pipelines. All three branches scan-project documents "
    "independently and join on doc_id; at 100 TB each branch prunes "
    "scan-side and the joins key one shuffle each on the (halved) "
    "doc_id sets. Keeps 367/500 fixture docs — every gate does real "
    "work.",
)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dungbeetle_spark.operators.dedup import dedup_exact
    from dungbeetle_spark.operators.text import lang_id, quality_score

    q = quality_score(spark, sf_dir).filter(F.col("quality") >= 0.6)
    l = (
        lang_id(spark, sf_dir)
        .filter(F.col("guessed_lang") == "en")
        .select("doc_id", "guessed_lang")
    )
    k = dedup_exact(spark, sf_dir).select(F.col("keep_doc_id").alias("doc_id"))
    return q.join(l, "doc_id").join(k, "doc_id").select(
        "doc_id", "quality", "guessed_lang"
    )


@query(
    "vocab_growth",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents),
    grams AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS g
      FROM toks, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS u(i)),
    first_seen AS (
      SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    per_bucket AS (
      SELECT first_doc // 25 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS new_grams
      FROM first_seen GROUP BY 1)
    SELECT bucket, bucket * 25 AS from_doc_id, new_grams,
           CAST(SUM(new_grams) OVER (ORDER BY bucket) AS BIGINT)
             AS cum_vocab
    FROM per_bucket
    """,
    doc="Vocabulary growth curve (Heaps' law audit) over BIGRAMS: each "
    "bigram is attributed to the document where it FIRST appears "
    "(min doc_id), bucketed by 25-doc ingestion windows, and "
    "cumulatively summed — how fast the corpus's phrase vocabulary "
    "grows as documents arrive. A flattening curve says new data is "
    "lexically redundant; a linear one says the corpus is still "
    "diversifying. Bigrams, not unigrams, because a bounded word "
    "vocabulary saturates instantly while phrase space keeps "
    "discriminating. All integer counts, deterministic.",
)
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: bigramming is a JVM transform inside codegen (the
    dsir_importance_weights construction); the min-per-gram aggregate
    partial-combines map-side (one shuffle keyed on gram); the bucket
    aggregate reduces |vocab| rows to |docs|/25 rows; only THAT tiny
    series crosses the unpartitioned running-sum window — the
    single-partition window never sees gram- or doc-scale data."""
    d = _t(spark, sf_dir, "documents")["documents"]
    t = F.split(norm_text(F.col("text")), " ")
    # zip_with over shifted slices (see word_ngrams: a lambda that
    # references the aliased tokenize re-runs it per element after
    # projection collapse); the slice-length guard subsumes the old
    # size >= 2 branch.
    m1 = F.greatest(F.size("t") - 1, F.lit(0))
    gram = F.zip_with(
        F.slice("t", 1, m1),
        F.slice("t", 2, m1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = d.select("doc_id", t.alias("t")).select(
        "doc_id",
        F.explode(gram).alias("g"),
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_bucket = (
        first_seen.groupBy(F.expr("first_doc DIV 25").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("new_grams"))
    )
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, 0)
    return per_bucket.select(
        "bucket",
        (F.col("bucket") * 25).alias("from_doc_id"),
        "new_grams",
        F.sum("new_grams").over(w).cast("long").alias("cum_vocab"),
    )

# -- duplicate-cluster size histogram ---------------------------------------


@query(
    "dedup_cluster_histogram",
    oracle=f"""
    WITH RECURSIVE
    {_COMPONENTS_CTES},
    comp AS (
      SELECT node AS doc_id, MIN(lbl) AS component FROM reach GROUP BY node),
    csizes AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component)
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST(cluster_size * COUNT(*) * 1000000
                // (SELECT SUM(cluster_size) FROM csizes) AS BIGINT)
             AS doc_share_ppm
    FROM csizes GROUP BY cluster_size
    """,
    doc="Duplicate-cluster size distribution: how many connected "
    "components (dedup_components' exact 3-gram-Jaccard clustering) "
    "have 1, 2, 3... members, with each size class's document count "
    "and corpus share in exact ppm. The shape of this histogram is "
    "the dedup health check the web-scale pipelines publish "
    "(a heavy tail of giant clusters = boilerplate/template "
    "contamination; mostly singletons = a clean crawl) and the input "
    "to choosing the near-dup threshold. Output is bounded by the "
    "largest cluster size, not the corpus.",
)
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: rides dedup_components (iterative min-label
    propagation, one shuffle per round, diameter-bounded rounds);
    after that, two tiny keyed aggregates (components -> sizes ->
    histogram) and a 1-row total broadcast back for the ppm share.
    The histogram output is bounded by max cluster size."""
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    total = sizes.agg(F.sum("cluster_size").alias("_total_docs"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            F.expr(
                "CAST(cluster_size * n_clusters * 1000000"
                " DIV _total_docs AS BIGINT)"
            ).alias("doc_share_ppm"),
        )
    )



@query(
    "corpus_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
    ),
    b AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % 7 = 3 THEN text || ' rev2'
                      ELSE text END) AS h
      FROM documents WHERE doc_id % 11 <> 0
      UNION ALL
      SELECT -(doc_id + 2) AS doc_id, source, md5('new ' || text) AS h
      FROM documents WHERE doc_id % 13 = 0
    ),
    diff AS (
      SELECT COALESCE(a.source, b.source) AS source,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    )
    SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM diff GROUP BY 1, 2
    """,
    doc="Corpus snapshot diff — the audit between two crawl/ingest "
    "versions that decides what incremental dedup/training must "
    "reprocess. Snapshot B is synthesized deterministically from A "
    "(doc_id%11==0 removed, doc_id%7==3 edited, one added doc per "
    "doc_id%13==0 seed at the collision-free id -(doc_id+2) — corpus "
    "ids are non-negative at every scale, so the <= -2 synthetic id "
    "is never a real one nor the -1 fate sentinel); rows are "
    "compared by content "
    "md5 so the join never carries text, and each doc lands in "
    "exactly one of added/removed/changed/unchanged, rolled up per "
    "source. Hash-exact: md5 + counts only.",
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: both snapshots project to (doc_id, source, md5) at
    the scan — 16-byte digests, not documents — so the one shuffle
    that matters, the doc_id-keyed full outer join, moves ~40
    bytes/row no matter how large documents are; the per-(source,
    status) rollup is bounded output. At 100 TB snapshot B is a real
    second table scan instead of a synthesized branch and the plan is
    unchanged; doc_id join keys are unique per side, so no skew."""
    d = _t(spark, sf_dir, "documents")["documents"]
    a = d.select("doc_id", "source", F.md5("text").alias("h"))
    b_kept = d.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        "source",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 3, F.concat(F.col("text"), F.lit(" rev2"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    b_added = d.filter(F.col("doc_id") % 13 == 0).select(
        (-(F.col("doc_id") + 2)).alias("doc_id"),
        "source",
        F.md5(F.concat(F.lit("new "), F.col("text"))).alias("h"),
    )
    b = b_kept.unionByName(b_added)
    diff = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
    )
    return (
        diff.select(
            F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
            status.alias("status"),
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# -- split_leakage_audit ------------------------------------------------------

# Fixture (FIXTURES.md): planted cross-split duplicate groups. 17 is
# coprime with both the 20-way source split and the 6 passage keys, so
# each shared passage's copies spread across sources and land on both
# sides of the content-blind md5(doc_id) split.
_LEAK_MOD = 17
_LEAK_KEYS = 6


@query(
    "split_leakage_audit",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % {_LEAK_MOD} = 0
               THEN 'shared passage p'
                    || CAST(doc_id % {_LEAK_KEYS} AS VARCHAR)
                    || ' alpha beta gamma delta epsilon zeta'
               ELSE text END AS text
      FROM documents
    ),
    tagged AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS content_hash,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                  THEN 1 ELSE 0 END AS in_train
      FROM seeded
    )
    SELECT content_hash,
           CAST(SUM(in_train) AS BIGINT) AS n_train,
           CAST(SUM(1 - in_train) AS BIGINT) AS n_test,
           MIN(CASE WHEN in_train = 1 THEN doc_id END)
             AS example_train_doc,
           MIN(CASE WHEN in_train = 0 THEN doc_id END)
             AS example_test_doc
    FROM tagged
    GROUP BY content_hash
    HAVING SUM(in_train) > 0 AND SUM(1 - in_train) > 0
    """,
    doc="Train/test split LEAKAGE audit: the classic eval-hygiene "
    "check that hash_split_train_test alone cannot make — a split "
    "keyed on doc_id is content-blind, so duplicate content lands on "
    "both sides. Groups documents by normalized-content md5 under "
    "the same md5(doc_id)<'cd' split rule and reports every content "
    "group with copies in BOTH splits (counts + example doc ids). "
    f"The fixture replaces doc_id%{_LEAK_MOD}==0 docs with one of "
    f"{_LEAK_KEYS} shared passages, planting leaky groups; all other "
    "docs are content-unique and never appear. The fix this audit "
    "motivates is splitting on content_md5 instead — dedup-then-"
    "split, exactly what dedup_exact + hash_split compose to.",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE corpus-scale shuffle — the content-hash
    group-by with map-side partial counts/mins; the HAVING filter
    prunes to the (tiny) leaky remainder before anything else
    consumes it. Uniform md5 keys: no skew beyond the planted
    duplicate groups themselves, the same profile dedup_exact
    carries (dedup.py:50)."""
    from dungbeetle_spark.functions.texts import content_md5
    from dungbeetle_spark.sources.catalog import fan_out

    d = fan_out(_t(spark, sf_dir, "documents")["documents"])
    seeded = F.when(
        F.col("doc_id") % _LEAK_MOD == 0,
        F.concat(
            F.lit("shared passage p"),
            (F.col("doc_id") % _LEAK_KEYS).cast("string"),
            F.lit(" alpha beta gamma delta epsilon zeta"),
        ),
    ).otherwise(F.col("text"))
    in_train = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd", 1
    ).otherwise(0)
    tagged = d.select(
        "doc_id",
        content_md5(seeded).alias("content_hash"),
        in_train.alias("in_train"),
    )
    return (
        tagged.groupBy("content_hash")
        .agg(
            F.sum("in_train").cast("long").alias("n_train"),
            F.sum(1 - F.col("in_train")).cast("long").alias("n_test"),
            F.min(
                F.when(F.col("in_train") == 1, F.col("doc_id"))
            ).alias("example_train_doc"),
            F.min(
                F.when(F.col("in_train") == 0, F.col("doc_id"))
            ).alias("example_test_doc"),
        )
        .filter((F.col("n_train") > 0) & (F.col("n_test") > 0))
    )


# -- rare_token_retention -----------------------------------------------------

# Fixture (FIXTURES.md): synthesized tail tokens per doc — the driver
# corpus's ~31-word vocabulary has no rare tokens, so each doc
# contributes one unique entity token (doc-freq 1), one of 97 topic
# tokens (doc-freq ~n/97) and one of 13 theme tokens (doc-freq ~n/13),
# modeling the long-tail entity distribution a real corpus has.
_RTR_QUALITY_MIN = 0.78


def _rare_token_retention_oracle() -> str:
    # Reuses the shared quality CTE (single source of truth for the
    # score formula, operators/text.py) like _corpus_clean_oracle.
    from dungbeetle_spark.operators.text import _quality_cte_sql

    return f"""
    WITH {_quality_cte_sql()},
    kept AS (
      SELECT doc_id,
             CASE WHEN quality >= {_RTR_QUALITY_MIN} THEN 1 ELSE 0 END
               AS k
      FROM scored),
    toks AS (
      SELECT d.doc_id,
             unnest(list_distinct(list_concat(
               string_split(d.text, ' '),
               ['entity' || CAST(d.doc_id AS VARCHAR),
                'topic' || CAST(d.doc_id % 97 AS VARCHAR),
                'theme' || CAST(d.doc_id % 13 AS VARCHAR)]))) AS tok
      FROM documents d),
    df AS (
      SELECT tok, COUNT(*) AS dfreq, SUM(k) AS kept_docs
      FROM toks JOIN kept USING (doc_id) GROUP BY tok)
    SELECT CAST(1 << (length(bin(dfreq)) - 1) AS BIGINT) AS df_bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE kept_docs > 0) AS BIGINT)
             AS n_retained,
           CAST(CAST(COUNT(*) FILTER (WHERE kept_docs > 0) AS HUGEINT)
                * 1000000 // CAST(COUNT(*) AS HUGEINT) AS BIGINT)
             AS retained_ppm
    FROM df GROUP BY 1
    """


@query(
    "rare_token_retention",
    oracle=_rare_token_retention_oracle(),
    doc="Rare-token retention audit — what a quality filter DESTROYS: "
    "after dropping documents below the shared quality score's "
    f"{_RTR_QUALITY_MIN} cutoff, what fraction of tokens in each "
    "document-frequency bucket still appears in at least one kept "
    "document? Buckets are powers of two on doc-frequency (bucket lo "
    "= 1 << bitlen-1, exact integers both engines via bin()). The "
    "fixture synthesizes the long tail (unique entity token per doc, "
    "97 topic and 13 theme tokens). The df=1 bucket's retained_ppm "
    "tracks the filter's document pass rate — rarer knowledge dies "
    "first, the canonical tail-knowledge-loss curve motivating "
    "quality-filter calibration (quality_threshold_calibration).",
)
def rare_token_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: kept-flag and the per-doc distinct token array are
    computed in ONE map-side pass (no doc-keyed join — the quality
    expression and the token list come from the same row), so the
    only corpus-scale shuffle is the token-keyed doc-frequency
    aggregate with map-side partials; the power-of-two re-bucket then
    runs on the token-vocabulary frame onto ~log2(n_docs) keys. Same
    single-shuffle profile as vocab_growth's frequency pass."""
    from dungbeetle_spark.sources.catalog import fan_out

    d = fan_out(_t(spark, sf_dir, "documents")["documents"])
    text = F.col("text")
    squashed = F.regexp_replace(text, r"\s+", " ")
    nc = F.length(text)
    nw = F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(squashed), " "))
    )
    np_ = F.length(text) - F.length(
        F.regexp_replace(text, r"\p{Punct}", "")
    )
    mean_wl = nc.cast("double") / nw
    quality = (
        F.least(nw.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.5)
        + F.when(
            (nw > 0) & (mean_wl >= 3.0) & (mean_wl <= 12.0), F.lit(0.3)
        ).otherwise(F.lit(0.0))
        + F.when(
            np_.cast("double") / F.greatest(nc, F.lit(1)) < 0.1, F.lit(0.2)
        ).otherwise(F.lit(0.0))
    )
    toks = F.array_distinct(
        F.concat(
            F.split(text, " "),
            F.array(
                F.concat(F.lit("entity"), F.col("doc_id").cast("string")),
                F.concat(
                    F.lit("topic"), (F.col("doc_id") % 97).cast("string")
                ),
                F.concat(
                    F.lit("theme"), (F.col("doc_id") % 13).cast("string")
                ),
            ),
        )
    )
    per_tok = (
        d.select(
            F.explode(toks).alias("tok"),
            F.when(quality >= F.lit(_RTR_QUALITY_MIN), 1)
            .otherwise(0)
            .alias("k"),
        )
        .groupBy("tok")
        .agg(F.count("*").alias("dfreq"), F.sum("k").alias("kept_docs"))
    )
    retained = F.count(F.when(F.col("kept_docs") > 0, 1))
    return (
        per_tok.withColumn(
            "df_bucket_lo",
            F.expr(
                "CAST(shiftleft(1L, CAST(length(bin(dfreq)) AS INT) - 1)"
                " AS BIGINT)"
            ),
        )
        .groupBy("df_bucket_lo")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            retained.cast("long").alias("n_retained"),
            F.expr(
                "CAST(CAST(COUNT(CASE WHEN kept_docs > 0 THEN 1 END)"
                " AS DECIMAL(38,0)) * 1000000"
                " DIV CAST(COUNT(*) AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("retained_ppm"),
        )
    )


# -- corpus_fate_manifest -----------------------------------------------------


def _fate_verdict_ctes(src: str = "documents", p: str = "") -> str:
    """The quality-funnel verdict as DuckDB CTE bodies —
    ``{p}q``/``{p}verdict`` over relation ``src`` — extracted r13
    (byte-identical default rendering) so fate_recompute_plan's oracle
    can derive verdicts for the original corpus and the touched
    evolved docs next to the spliced full fate oracle, the same
    one-SQL-definition discipline as mixing._fdc_sig_ctes."""
    from dungbeetle_spark.operators.text import (
        _QF_MAX_CHARS,
        _QF_MIN_STOP,
        _QF_MIN_WORDS,
        _QF_STOPWORDS,
        _QF_WL_HI,
        _QF_WL_LO,
    )

    return f"""{p}q AS (
      SELECT doc_id, lang, length(text) AS nc,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(
                         trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '))
                  END AS nw,
             len(list_filter(
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               x -> x <> ''),
                   x -> x IN {str(_QF_STOPWORDS)})) AS stp
      FROM {src}),
    {p}verdict AS (
      SELECT doc_id,
             CASE WHEN nw < {_QF_MIN_WORDS} THEN 'too_short'
                  WHEN nc > {_QF_MAX_CHARS} THEN 'too_long'
                  WHEN nc * 1000 // nw < {_QF_WL_LO}
                       OR nc * 1000 // nw > {_QF_WL_HI} THEN 'word_length'
                  WHEN lang = 'en' AND stp < {_QF_MIN_STOP} THEN 'low_stopword'
                  ELSE 'kept' END AS reason
      FROM {p}q)"""


def _fate_gram_ctes(src: str = "documents", p: str = "") -> str:
    """The exact-decontamination GRAM pipeline as DuckDB CTE bodies —
    ``{p}seeded``/``{p}toks``/``{p}grams`` over relation ``src`` —
    extracted r14 (byte-identical default rendering, the
    _fate_verdict_ctes discipline) so the fate-delta maintenance
    oracle (operators.fate_delta) can rebuild the refreshed eval-gram
    reference over the evolved corpus with the ONE SQL definition the
    fate oracle uses."""
    from dungbeetle_spark.operators.mixing import (
        _EVAL_MOD,
        _GRAM_N,
        _PLANT_MOD,
    )

    return f"""{p}seeded AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % {_EVAL_MOD} = 0
                            OR doc_id % {_PLANT_MOD} = 0
                          THEN ' benchmark passage k'
                               || CAST(doc_id % 5 AS VARCHAR)
                               || ' alpha beta gamma delta epsilon zeta eta'
                          ELSE '' END AS text
      FROM {src}),
    {p}toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM {p}seeded),
    {p}grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(t[i : i + {_GRAM_N - 1}], ' ') AS gram
      FROM {p}toks,
           unnest(range(1, greatest(len(t) - {_GRAM_N - 1}, 0) + 1)) AS u(i))"""


def _fate_oracle(src: str = "documents") -> str:
    """The composed fate pipeline as SQL over corpus relation ``src``
    (shard_export_diff replays it over the evolved snapshot CTE as
    well). Since r12 the chain ends with the FUZZY decontamination
    stage (VERDICT r11 item 1): the fuzzy signature CTEs are spliced
    from mixing._fdc_sig_ctes with prefix ``f`` — the same single SQL
    definition the standalone fuzzy_decontamination oracle renders —
    and exact-decon survivors whose banded minhash agrees with some
    eval doc on >= _FDC_MIN_BANDS bands are dropped_fuzzy_contaminated
    before export."""
    from dungbeetle_spark.operators.mixing import (
        _EVAL_MOD,
        _FDC_MIN_BANDS,
        _GRAM_N,
        _PLANT_MOD,
        _fdc_sig_ctes,
    )

    return f"""
    WITH {_fate_verdict_ctes(src)},
    flags AS (
      SELECT d.doc_id, v.reason,
             d.doc_id % {_EVAL_MOD} = 0 AS is_eval,
             md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS h
      FROM {src} d JOIN verdict v USING (doc_id)),
    surv1 AS (SELECT * FROM flags WHERE NOT is_eval AND reason = 'kept'),
    canon AS (SELECT h, MIN(doc_id) AS dup_of FROM surv1 GROUP BY h),
    s1 AS (SELECT f.doc_id, c.dup_of FROM surv1 f JOIN canon c USING (h)),
    surv2 AS (SELECT doc_id FROM s1 WHERE doc_id = dup_of),
    {_fate_gram_ctes(src)},
    ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % {_EVAL_MOD} = 0),
    cont AS (
      SELECT g.doc_id,
             CAST(SUM(CASE WHEN gram IN (SELECT gram FROM ev)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_cont
      FROM grams g JOIN surv2 USING (doc_id)
      GROUP BY 1),
    surv3 AS (
      SELECT s.doc_id FROM surv2 s LEFT JOIN cont c USING (doc_id)
      WHERE COALESCE(c.n_cont, 0) = 0),
    {_fdc_sig_ctes(src, "f")},
    fcand AS (
      SELECT t.doc_id, e.doc_id AS eval_doc, CAST(COUNT(*) AS BIGINT) AS m
      FROM fmh t
      JOIN fmh e ON t.j = e.j AND t.h = e.h
      JOIN surv3 sv ON sv.doc_id = t.doc_id
      WHERE e.doc_id % {_EVAL_MOD} = 0
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_FDC_MIN_BANDS}),
    fbest AS (SELECT doc_id, MAX(m) AS fm FROM fcand GROUP BY doc_id)
    SELECT d.doc_id,
           CASE WHEN d.doc_id % {_EVAL_MOD} = 0 THEN 'eval_holdout'
                WHEN v.reason <> 'kept' THEN 'dropped_quality'
                WHEN s1.doc_id <> s1.dup_of THEN 'dropped_duplicate'
                WHEN COALESCE(c.n_cont, 0) > 0 THEN 'dropped_contaminated'
                WHEN COALESCE(fb.fm, 0) > 0 THEN 'dropped_fuzzy_contaminated'
                ELSE 'kept' END AS fate,
           v.reason AS quality_reason,
           CAST(COALESCE(s1.dup_of, -1) AS BIGINT) AS canonical_id,
           CAST(COALESCE(c.n_cont, 0) AS BIGINT) AS n_contaminated,
           CAST(COALESCE(fb.fm, 0) AS BIGINT) AS fuzzy_matched_bands
    FROM {src} d
    JOIN verdict v USING (doc_id)
    LEFT JOIN s1 ON s1.doc_id = d.doc_id
    LEFT JOIN cont c ON c.doc_id = d.doc_id
    LEFT JOIN fbest fb ON fb.doc_id = d.doc_id
    """


@query(
    "corpus_fate_manifest",
    oracle=_fate_oracle(),
    doc="The composed ingest decision — what ACTUALLY happens to each "
    "document when the pipeline runs end to end: eval holdout carved "
    "out first, then the deployed quality funnel (same constants as "
    "quality_filter_funnel), then exact dedup among survivors "
    "(keep-first on the content md5, canonical_id recorded), then "
    "benchmark decontamination among canonicals (same eval gram set "
    "as decontamination), and since r12 (VERDICT r11 item 1) FUZZY "
    "decontamination among the exact-decon survivors — the same "
    "stop-filtered banded-minhash probe as fuzzy_decontamination, so "
    "a lightly edited benchmark copy whose exact 5-grams no longer "
    "match is dropped_fuzzy_contaminated instead of sailing into the "
    "export shards — one fate per doc with the stage that sealed it "
    "and its evidence (quality reason / canonical id / "
    "contaminated-gram count / fuzzy matched-band count). The "
    "per-document provenance manifest a 100 TB curation run ships "
    "alongside the corpus so every exclusion is auditable and "
    "reproducible.",
)
def corpus_fate_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: stage composition adds NO new shuffle classes —
    quality verdicts are one codegen scan; dedup is the md5-keyed
    aggregate + hash join back; contamination is the broadcast
    eval-gram membership restricted to canonical survivors (the
    gram explode never runs for docs already dropped — the filter
    pushes ahead of the expensive stage, which is the point of
    staging); the fuzzy stage inherits fuzzy_decontamination's shape
    (hash-only shuffles, broadcast stop set + eval band index) with
    its signature aggregate further restricted to eval docs plus
    exact-decon SURVIVORS — the only docs whose signatures the fate
    decision can read (per-doc signatures are independent, so this
    equals the oracle's all-docs form filtered); the final assembly
    is doc_id-keyed joins. Every stage's semantics is pinned equal to
    its standalone operator by the composed oracle. The fuzzy stage's
    plant discipline mirrors the standalone op: the template family +
    universal footer live in the fuzzy-seeded VIEW only (seeding the
    raw text would make the footer's 5-grams cross-contaminate the
    exact stage), exactly as the exact stage's benchmark passages
    live in fate_seeded_toks' view."""
    return _fate_frame(_t(spark, sf_dir, "documents")["documents"])


def _fate_frame(d: DataFrame) -> DataFrame:
    """The composed fate pipeline over an arbitrary documents frame
    (doc_id, text, lang, ...) — extracted r10 so shard_export_diff can
    replay it over the evolved corpus snapshot as well; called with
    the loaded table it is corpus_fate_manifest, unchanged.

    r14 optimization pass (results bit-identical, pinned by the
    oracle):

    - ONE corpus pass feeds every stage: the quality verdicts, the
      content md5 and the eval flag come out of a single
      ``funnel_verdicts(extra=...)`` projection (the old shape
      re-scanned documents and JOINED verdicts back on doc_id — two
      exchanges and a sort for a column the verdict scan already had
      in hand, guide §2.4), and the gram/shingle branches hang off
      the same ``fan_out(d)`` exchange, so AQE stage reuse computes
      the spread shuffle once for all three consumers.
    - canonical election is a window (min over h-partitions) instead
      of groupBy + self-join — same key, one exchange, no join back
      (guide §2.4: window after agg on the same key shares the
      partitioning).
    - the three independent reference chains — flags, the eval-gram
      set, the fuzzy stop set — materialize eagerly on concurrent
      driver threads (guide §2.6): their jobs overlap instead of
      running as strictly sequential lazy-checkpoint waves. At
      cluster scale the same overlap back-fills executors freed by
      each chain's straggler tail; the checkpointed frames are the
      id/hash-grain reference tables, never document text (the old
      flags checkpoint carried the full text column it never read —
      guide §2.3, checkpoint fewer bytes).

    r15 optimization pass (results bit-identical, pinned by the
    oracle):

    - the election window is FOLDED into the flags frame as a
      conditional min — ``min(doc_id over surv1 members)`` per
      h-partition, masked to surv1 rows — so the s1 join-back on
      doc_id disappears: one h-keyed exchange replaces the r14
      surv1-window + two doc-grain exchanges + SMJ (guide §2.4). For
      surv1 rows the windowed min ranges over exactly the same
      member set as before (the conditional skips non-surviving
      partition mates); non-surviving rows read NULL, the same value
      the old LEFT join produced.
    - the containment grams explode AFTER the surv2 semi-join, not
      before: only canonical survivors pay the tokenize + explode,
      and the join moves doc-grain rows instead of gram-grain rows
      (guide §3.3 — explode multiplies the join; at 100 TB surv2
      outgrows any broadcast and the pre-explode join avoids a
      gram-grain shuffle entirely).
    """
    from dungbeetle_spark.functions.texts import content_md5
    from dungbeetle_spark.operators.mixing import (
        _EVAL_MOD,
        _FDC_MIN_BANDS,
        _GRAM_N,
        _fdc_band_rows,
        _fdc_minhash,
        _fdc_seeded,
        _fdc_shingle_hashes,
        _fdc_stop_set,
        fate_seeded_toks,
        word_ngrams,
    )
    from dungbeetle_spark.operators.text import funnel_verdicts
    from dungbeetle_spark.sources.catalog import fan_out

    base = fan_out(d)
    flags_lazy = funnel_verdicts(
        base,
        extra={
            "is_eval": F.col("doc_id") % _EVAL_MOD == 0,
            "h": content_md5("text"),
        },
    ).select("doc_id", "reason", "is_eval", "h")
    toks = fate_seeded_toks(base)
    ev_lazy = (
        toks.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select("doc_id", F.explode_outer(word_ngrams("t", _GRAM_N)).alias("gram"))
        .select("gram")
        .where(F.col("gram").isNotNull())
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    fsh = _fdc_shingle_hashes(_fdc_seeded(base))
    fstops = _fdc_stop_set(fsh, d)
    # overlap the three independent reference builds; forcing fstops
    # also materializes fsh's lazy checkpoint (its parent)
    flags, ev, _ = materialize_concurrently(
        d.sparkSession,
        lambda: maybe_local_checkpoint(flags_lazy),
        lambda: maybe_local_checkpoint(ev_lazy),
        lambda: maybe_count(fstops),
    )
    # r15: election folded into a conditional-min window — one h-keyed
    # exchange, no join back on doc_id (see docstring).
    surv = ~F.col("is_eval") & (F.col("reason") == "kept")
    fw = flags.withColumn(
        "dup_of",
        F.when(
            surv,
            F.min(F.when(surv, F.col("doc_id"))).over(W.partitionBy("h")),
        ),
    )
    fw = maybe_local_checkpoint(fw, eager=False)  # many consumers; lazy barrier
    surv2 = fw.filter(F.col("doc_id") == F.col("dup_of")).select("doc_id")
    cont = (
        toks.join(surv2, "doc_id")  # join BEFORE the explode (r15):
        # only canonicals pay tokenize+explode, doc-grain join rows
        .select(
            "doc_id", F.explode_outer(word_ngrams("t", _GRAM_N)).alias("gram")
        )
        .join(F.broadcast(ev), "gram", "left")
        .groupBy("doc_id")
        .agg(F.count(F.when(F.col("hit").isNotNull(), 1)).alias("n_cont"))
    )
    cont = maybe_local_checkpoint(cont, eager=False)  # feeds surv3 + assembly
    # fuzzy decontamination among the exact-decon survivors (r12): the
    # standalone fuzzy_decontamination pipeline, with the probe side
    # restricted to surv3 — the only docs whose fuzzy verdict the fate
    # CASE can reach.
    # surv3 feeds two consumers (the signature semi-join's `need`
    # union and the fhits probe) UNBARRIERED — deliberate. The
    # pre-r14 shape checkpointed it; re-measured r14 (review finding):
    # the duplicated chain is one id-grain exchange + window over the
    # survivor ids reading already-checkpointed inputs (flags, cont),
    # while the barrier serializes an extra blocking job on the
    # critical path — min-of-5 7.0 s WITH the checkpoint vs 5.6 s
    # without at sf0.1, value-identical. At scale the duplicate is an
    # 8-byte/row shuffle; the barrier is a full materialization stall.
    surv3 = (
        surv2.join(cont, "doc_id", "left")
        .filter(F.coalesce("n_cont", F.lit(0)) == 0)
        .select("doc_id")
    )
    # signatures only where the decision can read them: eval docs (the
    # index side) + surv3 (the probe side); per-doc signatures are
    # independent, so this equals the oracle's all-docs fmh filtered
    need = surv3.unionByName(
        d.filter(F.col("doc_id") % _EVAL_MOD == 0).select("doc_id")
    )
    fmh = _fdc_minhash(
        fsh.join(need, "doc_id", "left_semi")
        .join(F.broadcast(fstops), "hs", "left_anti")
    )
    fbands = _fdc_band_rows(maybe_local_checkpoint(fmh, eager=False))
    fev = fbands.filter(F.col("doc_id") % _EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_doc"), "j", "h"
    )
    fhits = (
        fbands.join(surv3, "doc_id", "left_semi")
        .join(F.broadcast(fev), ["j", "h"])
        .groupBy("doc_id", "eval_doc")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") >= _FDC_MIN_BANDS)
        .groupBy("doc_id")
        .agg(F.max("m").alias("fm"))
    )
    fate = (
        F.when(F.col("is_eval"), "eval_holdout")
        .when(F.col("reason") != "kept", "dropped_quality")
        .when(F.col("dup_of").isNotNull() & (F.col("doc_id") != F.col("dup_of")),
              "dropped_duplicate")
        .when(F.coalesce("n_cont", F.lit(0)) > 0, "dropped_contaminated")
        .when(F.coalesce("fm", F.lit(0)) > 0, "dropped_fuzzy_contaminated")
        .otherwise("kept")
    )
    return (
        fw.select("doc_id", "reason", "is_eval", "dup_of")
        .join(cont, "doc_id", "left")
        .join(fhits, "doc_id", "left")
        .select(
            "doc_id",
            fate.alias("fate"),
            F.col("reason").alias("quality_reason"),
            F.coalesce("dup_of", F.lit(-1)).cast("long").alias("canonical_id"),
            F.coalesce("n_cont", F.lit(0)).cast("long").alias("n_contaminated"),
            F.coalesce("fm", F.lit(0)).cast("long").alias("fuzzy_matched_bands"),
        )
    )


# -- PII detection/redaction (shared by the export and the audit) -------------

# Detection patterns shared verbatim by the Spark plans and the DuckDB
# oracles. Restricted to the regex surface Java's engine and RE2 match
# identically (character classes, bounded repetition, \b on ASCII —
# no backreferences, no lookaround), which is what makes the audit
# oracle-checkable cross-engine.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def _pii_seed_sql(src: str = "documents") -> str:
    """Deterministic PII planting over the kept population as a CTE
    body (requires a ``kept(doc_id)`` CTE in scope). The synthetic
    corpus carries no organic PII, so the CASE arms below are the
    fixture stand-in — the _MHI_TEMPLATE discipline — mirrored by
    :func:`_pii_seed_expr`. Parameterized by source relation so
    shard_export_diff's replay seeds the evolved snapshot the same
    way (its added docs have negative ids, where none of the mod arms
    can fire — identically in both engines, which truncate toward
    zero)."""
    return f"""
      SELECT d.doc_id, d.source,
             d.text
               || CASE WHEN d.doc_id % 7 = 2
                       THEN ' contact agent' || CAST(d.doc_id AS VARCHAR)
                            || '@example.com'
                       ELSE '' END
               || CASE WHEN d.doc_id % 5 = 3
                       THEN ' call +1-555-'
                            || lpad(CAST(d.doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END
               || CASE WHEN d.doc_id % 13 = 5
                       THEN ' host 10.' || CAST(d.doc_id % 200 AS VARCHAR)
                            || '.' || CAST(d.doc_id % 97 AS VARCHAR)
                            || '.' || CAST(d.doc_id % 251 AS VARCHAR)
                       ELSE '' END AS text
      FROM {src} d JOIN kept USING (doc_id)"""


def _pii_seed_expr() -> "F.Column":
    """Spark twin of :func:`_pii_seed_sql`'s planted text expression
    (reads ``doc_id`` / ``text`` columns)."""
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.when(
            did % 7 == 2,
            F.concat(
                F.lit(" contact agent"),
                did.cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 3,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 13 == 5,
            F.concat(
                F.lit(" host 10."),
                (did % 200).cast("string"),
                F.lit("."),
                (did % 97).cast("string"),
                F.lit("."),
                (did % 251).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )


def _pii_redact_col(col: "F.Column") -> "F.Column":
    """The redaction projection — all three patterns replaced with
    typed placeholders in one codegen expression chain."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_PHONE),
            F.lit("<PHONE>"),
        ),
        F.lit(_PII_IP),
        F.lit("<IP>"),
    )


def _pii_redact_sql(expr: str) -> str:
    """DuckDB twin of :func:`_pii_redact_col` (same replace order)."""
    return (
        f"regexp_replace(regexp_replace(regexp_replace({expr}, "
        f"'{_PII_EMAIL}', '<EMAIL>', 'g'), "
        f"'{_PII_PHONE}', '<PHONE>', 'g'), "
        f"'{_PII_IP}', '<IP>', 'g')"
    )


def _pii_hits_col(col: "F.Column") -> "F.Column":
    """Total PII matches (all three classes) in a text column."""
    return (
        F.regexp_count(col, F.lit(_PII_EMAIL))
        + F.regexp_count(col, F.lit(_PII_PHONE))
        + F.regexp_count(col, F.lit(_PII_IP))
    )


def _pii_hits_sql(expr: str) -> str:
    """DuckDB twin of :func:`_pii_hits_col`."""
    return (
        f"len(regexp_extract_all({expr}, '{_PII_EMAIL}'))"
        f" + len(regexp_extract_all({expr}, '{_PII_PHONE}'))"
        f" + len(regexp_extract_all({expr}, '{_PII_IP}'))"
    )


# -- shard_export_manifest ----------------------------------------------------

def _export_oracle(src: str = "documents") -> str:
    from dungbeetle_spark.functions.texts import md5_hash60_sql
    from dungbeetle_spark.operators.curation import _ILV_SHIFT

    okey = md5_hash60_sql("concat('shuffle|', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH fate AS (
      SELECT * FROM ({_fate_oracle(src)}) f
    ),
    kept AS (SELECT doc_id FROM fate WHERE fate = 'kept'),
    pdocs AS ({_pii_seed_sql(src)}),
    red AS (
      SELECT doc_id, text, {_pii_redact_sql("text")} AS shipped
      FROM pdocs),
    ord AS (
      SELECT doc_id,
             length(shipped) AS n_chars,
             length(text) - length(shipped) AS red_delta,
             {_pii_hits_sql("shipped")} AS resid,
             md5(shipped) AS dh,
             {okey} AS okey
      FROM red
    ),
    seq AS (SELECT *, okey // {_ILV_SHIFT} AS shard_id FROM ord)
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc,
           md5(string_agg(dh, '' ORDER BY okey, doc_id)) AS content_digest,
           CAST(SUM(red_delta) AS BIGINT) AS chars_redacted,
           CAST(SUM(resid) AS BIGINT) AS residual_pii
    FROM seq GROUP BY shard_id
    """


@query(
    "shard_export_manifest",
    oracle=_export_oracle(),
    doc="The EXPORT artifact the pipeline actually ships: fate-kept "
    "documents only (the full composed manifest decides membership — "
    "since r12 including the fuzzy-decon stage), PII-REDACTED in the "
    "same pass (VERDICT r11 item 2: the audit used to rebuild "
    "redacted text that nothing shipped; now the export digest IS "
    "over the redacted bytes), sequenced by the reproducible md5 "
    "shuffle key (the same order shard_interleave_audit scores), cut "
    "into hash-range shards, and each shard summarized with counts, "
    "shipped char volume, id range, an ORDER-SENSITIVE content "
    "digest (md5 of the concatenated per-doc SHIPPED-text digests in "
    "shard order), chars_redacted, and residual_pii — PII matches "
    "remaining in the shipped text, pinned 0 by both engines. "
    "Re-exporting the corpus must reproduce every digest "
    "byte-identically, which is what makes a 100 TB training run "
    "auditable end to end.",
)
def shard_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: membership comes from the composed fate plan
    (unchanged — its own plan pins hold); the export adds one
    doc-keyed semi-join, map-side seed/redact/md5 projections (the
    redaction is one codegen regexp chain — folding it here is
    exactly what pii_redaction_audit's docstring promised the
    production pass would do, so the shipped bytes and the audited
    bytes are the same projection), and a SINGLE shard-keyed
    aggregate. The digest chain needs per-shard order, so each shard
    collects its (okey, doc_id, digest) structs — bounded by shard
    size, a production parameter, never corpus size — and folds them
    JVM-side (array_sort + array_join + md5). No global ordering, no
    window over the corpus: shards are hash ranges of the shuffle
    key, embarrassingly parallel like the interleave audit. The
    DuckDB oracle replays the digest chain with ordered string_agg
    over the identical key."""
    return _export_frame(_t(spark, sf_dir, "documents")["documents"])


def _export_frame(d: DataFrame, kept: DataFrame | None = None) -> DataFrame:
    """shard_export_manifest's export pipeline over an arbitrary
    documents frame — extracted r10 for shard_export_diff's two-
    snapshot replay; with the loaded table it is shard_export_manifest
    unchanged. Since r12 (VERDICT r11 item 2) the export digests the
    SHIPPED text: PII redaction is folded into the doc projection (the
    same seed/redact expressions as pii_redaction_audit), so the
    per-shard digest chain covers redacted bytes, chars_redacted
    records the net removal, and residual_pii — matches remaining in
    the shipped text — is an output column both engines pin to 0.

    ``kept`` (r13) optionally supplies the fate-kept membership from a
    MATERIALIZED manifest table (operators.warehouse) instead of
    replaying the composed fate plan — the warehouse shape the
    docstrings promise at 100 TB. Note chars_redacted is a NET char
    delta (raw length minus shipped length, summed); a PII match
    shorter than its typed placeholder contributes negatively, so on
    a corpus with organic short matches the column is signed — the
    per-class hit counts in pii_redaction_audit are the unsigned
    companions (ADVICE r12)."""
    from dungbeetle_spark.operators.curation import _ILV_SHIFT, ilv_okey

    if kept is None:
        kept = _fate_frame(d).filter(F.col("fate") == "kept").select("doc_id")
    shipped = _pii_redact_col(F.col("text"))
    seq = (
        d.select("doc_id", "text")
        .join(kept, "doc_id")
        .select("doc_id", _pii_seed_expr().alias("text"))
        .select(
            "doc_id",
            F.length("text").alias("n_raw"),
            shipped.alias("shipped"),
            ilv_okey().alias("okey"),
        )
        .select(
            "doc_id",
            F.length("shipped").cast("long").alias("n_chars"),
            (F.col("n_raw") - F.length("shipped"))
            .cast("long")
            .alias("red_delta"),
            _pii_hits_col(F.col("shipped")).cast("long").alias("resid"),
            F.md5("shipped").alias("dh"),
            "okey",
        )
        .withColumn("shard_id", F.expr(f"okey DIV {_ILV_SHIFT}"))
    )
    return seq.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("okey", "doc_id", "dh"))),
                    lambda x: x["dh"],
                ),
                "",
            )
        ).alias("content_digest"),
        F.sum("red_delta").cast("long").alias("chars_redacted"),
        F.sum("resid").cast("long").alias("residual_pii"),
    )


# -- shard_export_diff --------------------------------------------------------

# The evolved-corpus convention shared with corpus_snapshot_diff
# (doc_id % 11 == 0 removed, % 7 == 3 edited with a ' rev2' suffix,
# one added doc per % 13 == 0 seed at id -(doc_id + 2): corpus ids
# are non-negative at every scale, so the <= -2 seed can NEVER
# collide with a real id, nor with the fate frame's canonical_id
# sentinel -1 (the doc_id=0 seed would land exactly there under
# -(doc_id + 1), r10 review finding) — the previous +1,000,000 scheme collided with the scale
# sweep's per-copy k*1,000,000 id offsets, planting duplicate doc_ids
# in the very corpus the sweep timed, r10 review finding). At
# production scale "previous" is last round's shipped manifest table
# and "current" is this round's corpus — here both replay from one
# documents table so the whole diff is a pure, oracle-checkable
# function of it.
def _evolved_docs_sql(src: str = "documents") -> str:
    """The evolved-snapshot CTE over relation ``src`` — extracted r13
    (default rendering byte-identical to the r10 constant) so
    fate_recompute_plan can evolve its duplicate-seeded corpus view
    with the same convention."""
    return f"""
    newdocs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 3 THEN text || ' rev2'
                  ELSE text END AS text,
             lang, source
      FROM {src} WHERE doc_id % 11 <> 0
      UNION ALL
      SELECT -(doc_id + 2) AS doc_id, 'new ' || text AS text,
             lang, source
      FROM {src} WHERE doc_id % 13 = 0)"""


_EVOLVED_DOCS_SQL = _evolved_docs_sql()


def _evolved_docs(d: DataFrame) -> DataFrame:
    """Spark twin of ``_EVOLVED_DOCS_SQL``."""
    base = d.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 3, F.concat(F.col("text"), F.lit(" rev2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        "source",
    )
    added = d.filter(F.col("doc_id") % 13 == 0).select(
        (-(F.col("doc_id") + 2)).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
        "lang",
        "source",
    )
    return base.unionByName(added)


def _export_diff_oracle() -> str:
    """shard_export_diff's oracle — extracted r13 so the materialized-
    prev variant (operators.warehouse.shard_export_diff_from_manifest)
    shares the one SQL definition: the diff decision is replay-
    independent, so reading ``prev`` from the shipped manifest table
    must reproduce exactly this."""
    return f"""
    WITH {_EVOLVED_DOCS_SQL},
    prev AS (SELECT * FROM ({_export_oracle("documents")}) p),
    curr AS (SELECT * FROM ({_export_oracle("newdocs")}) c)
    SELECT COALESCE(p.shard_id, c.shard_id) AS shard_id,
           CASE WHEN p.shard_id IS NULL THEN 'new'
                WHEN c.shard_id IS NULL THEN 'retired'
                WHEN p.content_digest <> c.content_digest THEN 'rewrite'
                ELSE 'unchanged' END AS decision,
           p.n_docs AS prev_n_docs,
           c.n_docs AS curr_n_docs,
           p.content_digest AS prev_digest,
           c.content_digest AS curr_digest
    FROM prev p FULL OUTER JOIN curr c ON p.shard_id = c.shard_id
    """


@query(
    "shard_export_diff",
    oracle=_export_diff_oracle(),
    doc="Incremental re-export planning (VERDICT r09 item 4) — the "
    "operator a 100 TB pipeline runs AFTER shard_export_manifest: "
    "replay the export digest chains for the previous corpus snapshot "
    "and the current one (evolved per the corpus_snapshot_diff "
    "convention: removals, ' rev2' edits, added docs), full-outer-join "
    "per shard_id, and decide unchanged / rewrite / new / retired by "
    "digest-chain comparison — a re-export then rewrites ONLY dirty "
    "shards. Because the digest is order-sensitive over the "
    "reproducible shuffle key, 'unchanged' is a byte-level guarantee "
    "(identical membership, order, and doc bytes), not a heuristic; "
    "both digests ride in the output so the decision is auditable.",
)
def shard_export_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: two export replays (each inherits
    shard_export_manifest's pins — fate plan + one shard-keyed
    aggregate, per-shard bounded digest folds) plus ONE join keyed by
    shard_id — cardinality = shard count, a production parameter
    (thousands), so the diff itself is a driver-scale join no matter
    the corpus size. In the warehouse deployment `prev` is read from
    the shipped manifest table instead of recomputed; the decision
    logic is this exact full-outer comparison."""
    d = _t(spark, sf_dir, "documents")["documents"]
    # r14 opt: the two replays are fully independent until the diff
    # join — build them on concurrent driver threads (guide §2.6) so
    # their reference-chain materializations overlap instead of
    # running back-to-back; the diff action then interleaves both
    # export aggregates' stages inside one job.
    prev, curr = materialize_concurrently(
        spark,
        lambda: _export_frame(d),
        lambda: _export_frame(_evolved_docs(d)),
    )
    return _diff_frames(prev, curr)


def _diff_frames(prev: DataFrame, curr: DataFrame) -> DataFrame:
    """The diff decision itself, over ANY two manifest frames — the
    warehouse shape reads ``prev`` from the shipped manifest TABLE
    (halving the fixture query's two-replay plan); the decision logic
    is replay-independent by construction, pinned by
    test_r11_operators.py::test_export_diff_prev_from_manifest_table."""
    prev, curr = prev.alias("p"), curr.alias("c")
    decision = (
        F.when(F.col("p.shard_id").isNull(), "new")
        .when(F.col("c.shard_id").isNull(), "retired")
        .when(F.col("p.content_digest") != F.col("c.content_digest"), "rewrite")
        .otherwise("unchanged")
    )
    return prev.join(
        curr, F.col("p.shard_id") == F.col("c.shard_id"), "full_outer"
    ).select(
        F.coalesce("p.shard_id", "c.shard_id").alias("shard_id"),
        decision.alias("decision"),
        F.col("p.n_docs").alias("prev_n_docs"),
        F.col("c.n_docs").alias("curr_n_docs"),
        F.col("p.content_digest").alias("prev_digest"),
        F.col("c.content_digest").alias("curr_digest"),
    )


# -- pii_redaction_audit ------------------------------------------------------


def _pii_audit_oracle() -> str:
    """pii_redaction_audit's oracle — extracted r13 so the
    materialized-membership variant (operators.warehouse) shares the
    one SQL definition (the fate CTE below IS the spliced manifest)."""
    return f"""
    WITH fate AS (SELECT * FROM ({_fate_oracle()}) f),
    kept AS (SELECT doc_id FROM fate WHERE fate = 'kept'),
    docs AS ({_pii_seed_sql()}),
    scored AS (
      SELECT source, text,
             len(regexp_extract_all(text, '{_PII_EMAIL}')) AS e,
             len(regexp_extract_all(text, '{_PII_PHONE}')) AS p,
             len(regexp_extract_all(text, '{_PII_IP}')) AS ip,
             {_pii_redact_sql("text")} AS red
      FROM docs)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN e + p + ip > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_pii,
           CAST(SUM(e) AS BIGINT) AS email_hits,
           CAST(SUM(p) AS BIGINT) AS phone_hits,
           CAST(SUM(ip) AS BIGINT) AS ip_hits,
           CAST(SUM(len(text) - len(red)) AS BIGINT) AS chars_redacted,
           CAST(SUM(len(regexp_extract_all(red, '{_PII_EMAIL}'))
                    + len(regexp_extract_all(red, '{_PII_PHONE}'))
                    + len(regexp_extract_all(red, '{_PII_IP}'))) AS BIGINT)
             AS residual_hits
    FROM scored
    GROUP BY source
    """


@query(
    "pii_redaction_audit",
    oracle=_pii_audit_oracle(),
    doc="PII detection/redaction audit (VERDICT r10 item 6) — the "
    "release stage a real corpus run executes between the quality "
    "funnel and export: over EXACTLY the fate-kept population (the "
    "same composed membership corpus_fate_manifest exports — stage "
    "ordering pinned by test_r11_operators), count emails / "
    "international-format phones / IPv4 literals per source, rebuild "
    "the redacted text with typed placeholders, and report per-source "
    "docs scanned, docs affected, per-class hit counts, net chars "
    "redacted, and residual_hits — matches remaining AFTER redaction, "
    "pinned 0 by both engines (the redaction actually removes what "
    "detection found, not a sampled approximation). All three "
    "patterns run JVM-side (regexp_count/regexp_replace inside "
    "whole-stage codegen, zero Python); DuckDB shares the RE2-safe "
    "regex subset, so every number is oracle-reproduced. The fixture "
    "plants deterministic PII on the kept docs (the corpus has none "
    "organically), mirrored in the oracle. Since r12 the seed/redact "
    "expressions are the SHARED ones shard_export_manifest folds into "
    "its digest projection, so the bytes this audit scores are "
    "provably the bytes the export ships.",
)
def pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: membership reuses the composed fate plan (its
    pins hold); the audit itself is ONE codegen projection per kept
    doc (three regexp_counts + the chained regexp_replace — no
    Python, no UDF, no shuffle beyond the final source-keyed
    aggregate, whose cardinality is the source count). At 100 TB this
    is a map-only pass over the kept partition of the corpus; the
    redacted text is written alongside the export shards in the same
    pass (shard_export_manifest folds the identical projection into
    its digest chain since r12) rather than recomputed."""
    d = _t(spark, sf_dir, "documents")["documents"]
    kept = _fate_frame(d).filter(F.col("fate") == "kept").select("doc_id")
    return _pii_audit_frame(d, kept)


def _pii_audit_frame(d: DataFrame, kept: DataFrame) -> DataFrame:
    """The audit rollup given a kept-membership frame — extracted r13
    so the materialized-manifest variant (operators.warehouse) feeds
    the membership from the shipped manifest table instead of the
    replayed fate plan. chars_redacted is a NET (signed) char delta;
    see :func:`_export_frame` (ADVICE r12)."""
    seeded = d.join(kept, "doc_id").select(
        "doc_id", "source", _pii_seed_expr().alias("text")
    )
    scored = seeded.select(
        "source",
        "text",
        F.regexp_count("text", F.lit(_PII_EMAIL)).alias("e"),
        F.regexp_count("text", F.lit(_PII_PHONE)).alias("p"),
        F.regexp_count("text", F.lit(_PII_IP)).alias("ip"),
        _pii_redact_col(F.col("text")).alias("red"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("e") + F.col("p") + F.col("ip") > 0).cast("long")).alias(
            "docs_with_pii"
        ),
        F.sum("e").cast("long").alias("email_hits"),
        F.sum("p").cast("long").alias("phone_hits"),
        F.sum("ip").cast("long").alias("ip_hits"),
        F.sum(F.length("text") - F.length("red")).cast("long").alias(
            "chars_redacted"
        ),
        F.sum(_pii_hits_col(F.col("red"))).cast("long").alias("residual_hits"),
    )


# -- release_datacard ----------------------------------------------------------

_FATES = [
    "kept",
    "eval_holdout",
    "dropped_quality",
    "dropped_duplicate",
    "dropped_contaminated",
    "dropped_fuzzy_contaminated",
]


def _datacard_oracle(src: str = "documents") -> str:
    """Generated from _FATES so a future fate value cannot silently
    miss the datacard (adding one breaks the generated column list,
    not a hand-written CASE). Parameterized by source relation (r13)
    so release_datacard_diff can render the evolved-snapshot side;
    the default rendering is byte-identical to the r12 text."""
    fate_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN fate = '{f}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS {f}"
        for f in _FATES
    )
    return f"""
    WITH fate AS (SELECT * FROM ({_fate_oracle(src)}) f),
    kept AS (SELECT doc_id FROM fate WHERE fate = 'kept'),
    docs AS ({_pii_seed_sql(src)}),
    red AS (
      SELECT source, text, {_pii_redact_sql("text")} AS shipped
      FROM docs),
    vol AS (
      SELECT source,
             CAST(SUM(length(shipped)) AS BIGINT) AS shipped_chars,
             CAST(SUM(length(text) - length(shipped)) AS BIGINT)
               AS chars_redacted,
             CAST(SUM(CASE WHEN {_pii_hits_sql("text")} > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
             CAST(SUM({_pii_hits_sql("shipped")}) AS BIGINT) AS residual_pii
      FROM red GROUP BY source),
    fates AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             {fate_cols}
      FROM fate f JOIN {src} d USING (doc_id)
      GROUP BY d.source)
    SELECT f.source, f.n_docs,
           {", ".join("f." + f for f in _FATES)},
           CAST(f.kept * 1000000 // f.n_docs AS BIGINT) AS kept_ppm,
           COALESCE(v.shipped_chars, 0) AS shipped_chars,
           COALESCE(v.chars_redacted, 0) AS chars_redacted,
           COALESCE(v.docs_with_pii, 0) AS docs_with_pii,
           COALESCE(v.residual_pii, 0) AS residual_pii
    FROM fates f LEFT JOIN vol v USING (source)
    """


@query(
    "release_datacard",
    oracle=_datacard_oracle(),
    doc="The per-source RELEASE DATACARD — the summary table a real "
    "corpus release ships alongside the shards (HF data cards, Dolma "
    "reports): for every source, total docs ingested, the full fate "
    "breakdown (kept / eval holdout / each drop stage, including the "
    "r12 fuzzy-decon stage), the integer kept rate in ppm, and the "
    "shipped-volume block computed over the SAME redacted bytes the "
    "export digests — shipped chars, chars redacted, docs that "
    "carried PII, and residual matches in shipped text (0 by "
    "construction). Composes the fate pipeline, the shared PII "
    "seed/redact expressions, and two source-keyed rollups into one "
    "auditable artifact; every number is oracle-reproduced, so the "
    "datacard can be regenerated and byte-compared per release.",
)
def release_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE composed fate plan (its pins hold), the kept
    semi-join + map-only seed/redact projection shard_export_manifest
    also pays, and two source-keyed aggregates whose output
    cardinality is the source count — the final join is
    |sources| x |sources|, driver-scale at any corpus size. Nothing
    here shuffles anything the export pass doesn't already shuffle;
    in the warehouse deployment the datacard is a rollup OVER the
    shipped manifest + audit tables and touches no document text at
    all. The fate frame feeds BOTH the fate rollup and the kept
    membership, so it checkpoints locally — the static plan audit
    still reads the doubled lineage (like shard_export_diff's
    two-replay fixture shape), but execution materializes the fate
    assembly once."""
    d = _t(spark, sf_dir, "documents")["documents"]
    fate = maybe_local_checkpoint(_fate_frame(d), eager=False)
    return _datacard_frame(d, fate)


def _datacard_frame(d: DataFrame, fate: DataFrame) -> DataFrame:
    """The datacard rollups given a fate frame — extracted r13 so the
    materialized-manifest variant (operators.warehouse) can pass the
    shipped manifest TABLE (already materialized, so no checkpoint)
    where the fixture query passes the locally-checkpointed replay.
    chars_redacted is a NET (signed) char delta; see
    :func:`_export_frame` (ADVICE r12)."""
    fates = (
        fate.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *[
                F.sum((F.col("fate") == f).cast("long")).alias(f)
                for f in _FATES
            ],
        )
        .withColumn(
            "kept_ppm",
            F.expr("CAST(kept * 1000000 DIV n_docs AS BIGINT)"),
        )
    )
    kept = fate.filter(F.col("fate") == "kept").select("doc_id")
    red = (
        d.join(kept, "doc_id")
        .select("doc_id", "source", _pii_seed_expr().alias("text"))
        .select(
            "source",
            "text",
            _pii_redact_col(F.col("text")).alias("shipped"),
        )
    )
    vol = red.groupBy("source").agg(
        F.sum(F.length("shipped")).cast("long").alias("shipped_chars"),
        F.sum(F.length("text") - F.length("shipped"))
        .cast("long")
        .alias("chars_redacted"),
        F.sum((_pii_hits_col(F.col("text")) > 0).cast("long"))
        .cast("long")
        .alias("docs_with_pii"),
        F.sum(_pii_hits_col(F.col("shipped")))
        .cast("long")
        .alias("residual_pii"),
    )
    return fates.join(vol, "source", "left").select(
        "source",
        "n_docs",
        *_FATES,
        "kept_ppm",
        F.coalesce("shipped_chars", F.lit(0)).cast("long").alias(
            "shipped_chars"
        ),
        F.coalesce("chars_redacted", F.lit(0)).cast("long").alias(
            "chars_redacted"
        ),
        F.coalesce("docs_with_pii", F.lit(0)).cast("long").alias(
            "docs_with_pii"
        ),
        F.coalesce("residual_pii", F.lit(0)).cast("long").alias(
            "residual_pii"
        ),
    )
