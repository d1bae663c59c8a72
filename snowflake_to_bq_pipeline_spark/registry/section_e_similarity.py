"""SURVEY §2-E — LLM-data dedup & similarity: exact/lexical/MinHash/SimHash dedup, ANN, embeddings, clustering.

Split from the monolithic registry.py (r9); every query body is
unchanged — registration still flows through registry._core.query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel
from ..catalog import load_table
from ..operators import curation, graph, neardup, pq, similarity, text as text_ops
from ._core import query, standing_index
from .section_e_text import _tok_counts_for


@query(
    "dedup_exact",
    oracle="""
    WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
    g AS (
      SELECT content_hash, MIN(doc_id) AS canonical_doc_id,
             COUNT(*) AS dup_group_size
      FROM h GROUP BY content_hash
    )
    SELECT h.doc_id, h.content_hash, g.canonical_doc_id,
           h.doc_id != g.canonical_doc_id AS is_duplicate,
           g.dup_group_size
    FROM h JOIN g USING (content_hash)
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dup groups via content hash (hash-groupBy dedup)."""
    return neardup.exact_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g')))
             AS fingerprint,
           CAST(LENGTH(trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g')))
                AS BIGINT) AS n_chars_norm
    FROM documents
    """,
)
def doc_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 fingerprint of normalized text."""
    return text_ops.fingerprint(load_table(spark, sf_dir, "documents"))


_JACCARD_TAU = 0.6


_SHINGLE_SQL = """
    sp AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
        FROM sp
      )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)
"""


#: Shared hashed-shingle index (doc_id, __h): containment, novelty and
#: SimHash all start from exactly this table (same tokenizing, same
#: xxhash64) — the standing index a production near-dup pipeline keeps
#: between runs. Fingerprint-keyed, single live handle, MEMORY_AND_DISK.
@standing_index("documents")
def _shingles_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup.hashed_shingles(load_table(spark, sf_dir, "documents"))


_SHINGLE_CACHE = _shingles_for.cache


#: Hot-shingle guard verdicts per corpus snapshot (r14): the guard's
#: bounded stats job is a pure function of the standing shingle-index
#: slice it probes, so its 3-scalar verdict (cap, n_over_thr, fires) is
#: driver-held catalog state — the engine analog of table statistics —
#: computed once per snapshot instead of once per plan build (it was
#: ~0.5s of warm construct time PER CALL on the containment and
#: incremental-dedup queries). _ModelMemo lifecycle like the other
#: model caches; keyed by (sf_dir, fingerprint, slice).
@standing_index("documents", kind="model")
def _guard_stats_for(
    spark: SparkSession,
    sf_dir: str,
    corpus_only: bool = False,
    df_cap: int | None = None,
) -> tuple[int, int, bool]:
    """Memoized :func:`neardup.probe_guard_stats` over the shared shingle
    index (``corpus_only`` probes the doc_id % 5 != 0 corpus-side slice
    the incremental-dedup query checks against).  ``df_cap`` is part of
    the memo key because the verdict's ``cap``/``fires`` depend on it
    (r15, ADVICE): every current call site probes with the default, but
    a future custom-cap caller must never reuse a default-cap verdict."""
    sh = _shingles_for(spark, sf_dir)
    if corpus_only:
        sh = sh.filter(F.col("doc_id") % 5 != 0)
    return neardup.probe_guard_stats(sh, df_cap)


_GUARD_STATS_CACHE = _guard_stats_for.cache


#: Shared exact-Jaccard pair table: the pair view (`ngram_jaccard_dups`)
#: and the cluster resolution built on it (`dedup_clusters`) consume the
#: SAME pairs — a real pipeline materializes that intermediate once. One
#: live handle (previous corpus released on swap, like operators/_cache);
#: the table is near-dup-pair sized (tiny vs corpus), MEMORY_AND_DISK.
@standing_index("documents")
def _jaccard_pairs_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sh= : consume the shared hashed-shingle memo instead of letting
    # ngram_jaccard_pairs build (and _swap_cache-persist) a second
    # copy of the identical (doc_id, __h) index the containment/
    # novelty/simhash family already holds.
    return neardup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        _JACCARD_TAU,
        sh=_shingles_for(spark, sf_dir),
        guard_stats=_guard_stats_for(spark, sf_dir),
    )


_JACCARD_PAIRS_CACHE = _jaccard_pairs_for.cache


#: Per-snapshot dup-cluster worklist (doc_id, canonical_id, cluster_size,
#: is_canonical): the CC pointer-jumping resolve runs count actions at
#: PLAN-BUILD time (the semdedup r11 lesson), so its four consumers
#: (dedup_clusters, the size histogram, the cluster-safe split, the
#: leakage compare) must share one materialization per corpus instead of
#: re-resolving the same fixed point per query.
@standing_index("documents")
def _dup_clusters_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.dup_clusters(_jaccard_pairs_for(spark, sf_dir))


_DUP_CLUSTERS_CACHE = _dup_clusters_for.cache


@query(
    "ngram_jaccard_dups",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS intersection_size
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, intersection_size,
           sa.sz AS size_a, sb.sz AS size_b,
           CAST(intersection_size AS DOUBLE)
             / (sa.sz + sb.sz - intersection_size) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(intersection_size AS DOUBLE)
          / (sa.sz + sb.sz - intersection_size) >= {_JACCARD_TAU}
    """,
)
def ngram_jaccard_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs."""
    return _jaccard_pairs_for(spark, sf_dir)


@query(
    "doc_novelty_profile",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    first AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0
                          END) AS DOUBLE) / COUNT(*), 6) AS novelty_share
    FROM sh s JOIN first f USING (shingle)
    GROUP BY s.doc_id
    """,
)
def doc_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty share (first-occurrence shingle attribution) —
    dedup-aware corpus growth accounting; consumes the memoized
    hashed-shingle index shared with containment and SimHash."""
    return neardup.doc_novelty(
        load_table(spark, sf_dir, "documents"),
        sh=_shingles_for(spark, sf_dir),
    )


_CONTAINMENT_TAU = 0.8


@query(
    "ngram_containment_dups",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS intersection_size
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, intersection_size,
           sa.sz AS size_a, sb.sz AS size_b,
           ROUND(CAST(intersection_size AS DOUBLE) / sa.sz, 6)
             AS containment_a,
           ROUND(CAST(intersection_size AS DOUBLE) / sb.sz, 6)
             AS containment_b
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE GREATEST(CAST(intersection_size AS DOUBLE) / sa.sz,
                   CAST(intersection_size AS DOUBLE) / sb.sz)
          >= {_CONTAINMENT_TAU}
    """,
)
def ngram_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups (Broder 1997): subset/quotation
    pairs that symmetric Jaccard misses; same hashed-shingle join shape
    as the Jaccard op, consuming the memoized shingle index."""
    return neardup.ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"),
        _CONTAINMENT_TAU,
        sh=_shingles_for(spark, sf_dir),
        guard_stats=_guard_stats_for(spark, sf_dir),
    )


@query("minhash_recall_report")  # rows-only: minhash is xxhash64-dependent
def minhash_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dedup-QA report: recall/precision of the MinHash+LSH path
    vs exact Jaccard ground truth (floor asserted in tests); consumes the
    memoized pair tables the dedup queries already materialized."""
    return neardup.minhash_recall_report(
        _jaccard_pairs_for(spark, sf_dir),
        _minhash_pairs_for(spark, sf_dir),
    )


#: Memoized MinHash+LSH pair table per sf_dir — the pair view and the
#: recall report share it (same pattern/lifecycle as _JACCARD_PAIRS_CACHE).
#: Shared MinHash signature table (doc_id, sz, mh_0..mh_31): the pair
#: finder, the band-load profile and the band-tuning curve all start
#: from exactly this table — the MinHash twin of `_simhash_sigs_for`
#: (r11 ask #3's pattern applied to the other signature family).
@standing_index("documents")
def _minhash_sigs_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup.minhash_sig_table(_shingles_for(spark, sf_dir))


_MINHASH_SIGS_CACHE = _minhash_sigs_for.cache


@standing_index("documents")
def _minhash_pairs_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sh=/sigs=: consume the shared shingle and signature memos
    # instead of letting the operator _swap_cache-persist a second
    # copy of the identical index (the ngram_jaccard_pairs lesson).
    return neardup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        _JACCARD_TAU,
        sh=_shingles_for(spark, sf_dir),
        sigs=_minhash_sigs_for(spark, sf_dir),
    )


_MINHASH_PAIRS_CACHE = _minhash_pairs_for.cache


@query("dedup_minhash_lsh")  # rows-only: depends on Spark xxhash64
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified (recall vs exact Jaccard
    is asserted in tests/test_neardup.py)."""
    return _minhash_pairs_for(spark, sf_dir)


@query(
    "boilerplate_phrase_profile",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    prof AS (
      SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
      HAVING COUNT(*) >= 2
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    ranked AS (
      SELECT shingle, df,
             ROW_NUMBER() OVER (ORDER BY df DESC, shingle) AS rank
      FROM prof
    )
    SELECT r.shingle, r.df, r.rank,
           ROUND(CAST(r.df AS DOUBLE) / CAST(n.n_docs AS DOUBLE), 6)
             AS doc_frac
    FROM ranked r CROSS JOIN n WHERE r.rank <= 20
    """,
)
def boilerplate_phrase_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 boilerplate phrases: word-3-gram shingles by document
    frequency (df >= 2) with corpus share — the stop-phrase shortlist a
    curation pipeline feeds its boilerplate stripper, and exactly the
    hot keys the near-dup family's df-cap guard prunes (operators/
    neardup.py): this query makes that skew VISIBLE before it becomes a
    join hazard. Top-k via orderBy+limit (distributed TakeOrdered);
    the rank window runs post-limit over 20 rows."""
    docs = load_table(spark, sf_dir, "documents")
    sh = neardup.shingles(docs)
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    top = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .orderBy(F.col("df").desc(), "shingle")
        .limit(20)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("df").desc(), "shingle")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "shingle",
            "df",
            F.col("rank").cast("long").alias("rank"),
            F.round(
                F.col("df").cast("double") / F.col("__n").cast("double"), 6
            ).alias("doc_frac"),
        )
    )


@query(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS intersection_size
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(intersection_size AS DOUBLE)
            / (sa.sz + sb.sz - intersection_size) >= {_JACCARD_TAU}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node
    ),
    lab AS (SELECT node AS doc_id, MIN(r) AS canonical_id
            FROM reach GROUP BY node),
    sized AS (SELECT canonical_id, COUNT(*) AS cluster_size
              FROM lab GROUP BY canonical_id)
    SELECT cluster_size, COUNT(*) AS n_clusters,
           cluster_size * COUNT(*) AS docs_covered
    FROM sized GROUP BY cluster_size
    """,
)
def dedup_cluster_size_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-cluster size distribution (clusters of docs joined by exact-
    Jaccard pairs; singletons have no pair and no row): the shape a
    corpus owner reads before a dedup pass — a fat tail of large
    clusters means template content and big token savings, many 2-doc
    clusters mean mirror noise. One rollup over the memoized cluster
    labels, sharing all corpus-scale work with dedup_clusters."""
    labels = _dup_clusters_for(spark, sf_dir)
    return (
        labels.filter(F.col("is_canonical"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias(
                "docs_covered"
            ),
        )
    )


@query(
    "near_dup_rate_by_source",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS intersection_size
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(intersection_size AS DOUBLE)
            / (sa.sz + sb.sz - intersection_size) >= {_JACCARD_TAU}
    ),
    dup_docs AS (
      SELECT doc_a AS doc_id FROM pairs
      UNION
      SELECT doc_b FROM pairs
    )
    SELECT d.source, COUNT(*) AS n_docs,
           COUNT(dd.doc_id) AS near_dup_docs,
           ROUND(CAST(COUNT(dd.doc_id) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS near_dup_frac
    FROM documents d LEFT JOIN dup_docs dd USING (doc_id)
    GROUP BY d.source
    """,
)
def near_dup_rate_by_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-dup contamination rate — the dedup-QA dashboard
    number that decides which ingest source gets a cleaning pass (ref
    pattern: the reference's per-view row-count monitors, applied to dup
    structure). A doc counts as near-dup if it appears in ANY exact-
    Jaccard pair; one tiny rollup over the memoized pair table, so the
    corpus-scale work is shared with the whole dedup family."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs_for(spark, sf_dir)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        docs.join(dup_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("__dup").alias("near_dup_docs"),
            F.round(
                F.count("__dup").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("near_dup_frac"),
        )
    )


#: Shared 64-bit SimHash signature table (doc_id, simhash) per corpus
#: snapshot: dedup_simhash and the streaming twin's batch path aggregate
#: the SAME 16-packed-counter signatures from the shared shingle memo —
#: a production near-dup pipeline persists this table next to the
#: shingle index (it IS the simhash index). 16 bytes/doc, so the persist
#: is trivially cacheable at any scale; single-live-handle lifecycle
#: like the pair-table memos.
@standing_index("documents")
def _simhash_sigs_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_for(spark, sf_dir)
    return neardup.simhash_signatures(
        sh.select("doc_id", F.col("__h").alias("th"))
    )


_SIMHASH_SIG_CACHE = _simhash_sigs_for.cache


@query("dedup_simhash")  # rows-only: depends on Spark xxhash64
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-banded near-dup pairs over the memoized
    per-snapshot signature table (itself aggregated once from the
    Jaccard family's xxhash64 hashed-shingle memo)."""
    return neardup.simhash_pairs(
        load_table(spark, sf_dir, "documents"),
        sig=_simhash_sigs_for(spark, sf_dir),
    )


_ANN_DIMS = 64


_COS_SQL = (
    "list_aggregate(list_transform(range(1,{d}), i -> {a}.e[i]*{b}.e[i]), 'sum') "
    "/ (SQRT(list_aggregate(list_transform(range(1,{d}), i -> {a}.e[i]*{a}.e[i]), 'sum')) "
    "* SQRT(list_aggregate(list_transform(range(1,{d}), i -> {b}.e[i]*{b}.e[i]), 'sum')))"
)


@query(
    "ann_cosine_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    q AS (SELECT vec_id, e FROM v WHERE vec_id < 10),
    pairs AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             ROUND({_COS_SQL.format(d=_ANN_DIMS + 1, a='q', b='v')}, 6) AS cosine
      FROM q JOIN v ON v.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
             ) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per query vector (exactness baseline).
    Persisted via the brute-top-k memo: the same table is every ANN
    diagnostic's ground truth (ann_ivf_recall_curve joins against it),
    so the corpus-scale exact scan runs once per snapshot, not once per
    consumer."""
    return _brute_topk_for(spark, sf_dir, k=5)


#: Standing LSH bucket index per embeddings snapshot (r14): the corpus
#: (vec_id, table, bucket) table under the deterministic hyperplanes —
#: a deployed LSH maintains exactly this table and probes it per query;
#: r13 re-bucketized the whole corpus (an Arrow map pass) per search.
#: Same single-live-snapshot lifecycle as _ASSIGN_CACHE.
@standing_index("embeddings")
def _lsh_buckets_for(
    spark: SparkSession, sf_dir: str, n_tables: int = 16, n_planes: int = 4
) -> DataFrame:
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return similarity._lsh_buckets(v, n_tables, n_planes)


_LSH_BUCKETS_CACHE = _lsh_buckets_for.cache


@query("ann_lsh_topk")  # rows-only: hyperplanes derive from Spark xxhash64
def ann_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN (the 100 TB scale path; recall vs
    brute force asserted in tests/test_similarity.py). Probes the
    per-snapshot standing bucket index (_lsh_buckets_for) instead of
    re-bucketizing the corpus per search; the hyperplanes are
    deterministic, so the memoized table is identical to an inline
    pass (equality pytest-pinned in tests/test_similarity.py)."""
    df = similarity.lsh_topk(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < 10,
        k=5,
        buckets=_lsh_buckets_for(spark, sf_dir),
    )
    return df.withColumn("rank", F.col("rank").cast("long"))


_DUP_COS_TAU = 0.3  # synthetic embeddings are near-orthogonal; real


                    # text-embedding dedup would sit at ~0.95

@query(
    "embedding_dup_pairs",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      WHERE vec_id % 10 = 0
    ),
    p AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND({_COS_SQL.format(d=_ANN_DIMS + 1, a='a', b='b')}, 6) AS cosine
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= {_DUP_COS_TAU}
    """,
)
def embedding_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs. τ=0.3 sits in the BULK of this
    corpus's cosine distribution, so no candidate generator can prune —
    the blocked exact scan (block-grid equi-join + BLAS-scored cells, no
    CartesianProduct node) is the honest plan; the LSH path stays the
    high-τ route and keeps full-recall tests. The keyspace sample keeps
    the all-pairs DuckDB oracle tractable."""
    return similarity.dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        _DUP_COS_TAU,
        sample_mod=10,
        method="blocked",
    )


@query("ann_ivf_topk")  # rows-only: ranking ties through Spark-side floats
def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list ANN (recall vs brute force asserted in tests).
    Rides the shared per-(snapshot, model) assignment memo — the
    standing inverted-list index — so no per-query corpus scan."""
    df = similarity.ivf_topk(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < 10,
        k=5,
        centroids=_centroids_for(spark, sf_dir, 16, as_rows=True),
        assigned=_assigned_for(spark, sf_dir, 16),
    )
    return df.withColumn("rank", F.col("rank").cast("long"))


#: Chunk-grain standing IVF index per documents snapshot: the trained
#: coarse model (driver-held rows, O(k)) and the persisted inverted-list
#: assignment over ALL retrieval chunks — chunk search rides the same
#: train/assign/probe family (and the same streaming maintenance twin)
#: as document and media embeddings; one index per snapshot, not per
#: query. The value is the pair (centroid rows, persisted assignment).
@standing_index("documents")
def _chunk_index_for(
    spark: SparkSession, sf_dir: str
) -> tuple[list, DataFrame]:
    # (r15 note: a fan_out() round-robin exchange before the encode
    # was measured and REJECTED — the one-task encode pass is only
    # ~0.8s at sf0.1 and the exchange made it slightly slower; the
    # cold build's dominant cost is the exact-decimal Lloyd
    # training below, kept as-is for model determinism.)
    v = text_ops.chunk_vectors(
        load_table(spark, sf_dir, "documents")
    ).select("vec_id", F.col("embedding").alias("e"))
    # Build-scoped persist (r15, guide §1.2/§5): Lloyd training runs
    # an assignment pass per iteration and each pass's centroid
    # collect re-executed the WHOLE chunk+encode pipeline (the
    # Python-boundary explode over the full corpus) — 4+ encode
    # passes per cold build. Encode once, train/assign from the
    # cached table, then drop it: the standing index keeps only the
    # persisted `assigned`.
    v = v.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cents = similarity.train_centroids(v, 16)
        # rows, not a DataFrame (r15): ivf_topk accepts the driver-side
        # model directly, skipping a per-call createDataFrame + collect.
        rows = [(int(r["cent_id"]), list(r["ce"])) for r in cents.collect()]
        cents_df = spark.createDataFrame(rows, "cent_id long, ce array<double>")
        assigned = similarity._assign(
            v, cents_df, "vec_id", "e", 1
        ).persist(StorageLevel.MEMORY_AND_DISK)
        # Materialize the standing index while the encode cache is
        # live — otherwise the first consumer action would re-run
        # the encode pass after the unpersist below.
        assigned.count()
    finally:
        v.unpersist(blocking=False)
    return rows, assigned


_CHUNK_ASSIGN_CACHE = _chunk_index_for.cache


@query("chunk_ann_topk")  # rows-only: ranks by the trained chunk model
def chunk_ann_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-grain retrieval over the standing IVF index — THE
    RAG-serving path a training-data pipeline feeds: doc_chunk_windows
    passages embedded through the injectable encoder seam
    (operators/text.chunk_vectors, the multimodal embed_media pattern)
    and searched via the shared train_centroids/_assign/ivf_topk family.
    vec_id packs (doc_id, chunk_idx) invertibly, so results come back at
    (document, passage) grain. Queries are each doc's FIRST chunk for
    the first ten docs. Recall vs brute-force cosine and
    maintained-index ≡ inline-assignment equality are pytest-pinned in
    tests/test_chunk_ann.py (mirroring the media gates)."""
    base = text_ops.CHUNK_VEC_BASE
    cents, assigned = _chunk_index_for(spark, sf_dir)
    # the corpus side is the MEMOIZED standing index (assigned carries
    # vectors); only the ten query docs re-embed per call — the encoder
    # is a Python-side map, so the probe filter must be applied BEFORE
    # it, not on its output (measured 3.1s → the probe-only embed)
    qv = text_ops.chunk_vectors(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    )
    out = similarity.ivf_topk(
        qv,
        F.col("vec_id") % base == 0,
        k=5,
        n_probe=6,
        centroids=cents,
        assigned=assigned,
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("query_id") / base).cast("long").alias("query_doc"),
        F.floor(F.col("neighbor_id") / base)
        .cast("long")
        .alias("neighbor_doc"),
        (F.col("neighbor_id") % base).cast("long").alias("neighbor_chunk"),
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


@query("ann_ivf_incremental_topk")  # rows-only: ranks by the trained model
def ann_ivf_incremental_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance: the daily increment (every
    10th vec) is assigned into the EXISTING coarse lists — trained on
    the base corpus only, memoized like the standing model it is —
    without retraining; queries probe the maintained index. Recall vs a
    full retrain on the incremented corpus is asserted in
    tests/test_scale_ops.py (the embedding twin of
    incremental_dedup_check)."""
    return similarity.ivf_incremental_topk(
        load_table(spark, sf_dir, "embeddings"),
        increment_pred=F.col("vec_id") % 10 == 0,
        query_pred=F.col("vec_id") < 10,
        k=5,
        centroids=_centroids_for(spark, sf_dir, 16, exclude_mod=10, as_rows=True),
        assigned=_assigned_for(spark, sf_dir, 16, exclude_mod=10),
    ).withColumn("rank", F.col("rank").cast("long"))


@query("ann_ivf_list_drift")  # rows-only: floats through the trained model
def ann_ivf_list_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance observability for the incrementally-maintained IVF
    index: per-list base vs increment occupancy and cosine-to-centroid
    drift — the 'retrain now?' report a production index keeps next to
    its daily assignment pass. Invariants (occupancy sums, drift
    bounds) asserted in tests/test_scale_ops.py."""
    return similarity.ivf_list_drift(
        load_table(spark, sf_dir, "embeddings"),
        increment_pred=F.col("vec_id") % 10 == 0,
        centroids=_centroids_for(spark, sf_dir, 16, exclude_mod=10, as_rows=True),
        assigned=_assigned_for(spark, sf_dir, 16, exclude_mod=10),
    )


#: Standing PQ / IVF-PQ index memos per embeddings snapshot (r14):
#: the trained model tensors are driver-held O(model) state (_ModelMemo
#: lifecycle like the k-means centroid memo) and the coded corpus —
#: 8 ints per vector, the compressed index a deployed PQ system stores
#: INSTEAD of the raw vectors — persists once per (snapshot, model)
#: with the same single-live-snapshot eviction as _ASSIGN_CACHE.
#: r13 retrained + re-encoded per CALL: one sample collect + 64-128
#: driver Lloyd iterations + a corpus Arrow encode pass per invocation,
#: which is neither the deployed posture nor cheap (the train collect
#: and encode stage dominated both queries' warm bench time).
@standing_index("embeddings", kind="model")
def _pq_model_for(spark: SparkSession, sf_dir: str):
    """Memoized PQ codebook tensor (m, k, d/m) for the snapshot."""
    return pq.train_codebooks(load_table(spark, sf_dir, "embeddings"))


@standing_index("embeddings")
def _pq_codes_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (vec_id, codes) corpus encoding under the memoized PQ
    model — the standing compressed index ADC search scans."""
    return pq.pq_encode(
        load_table(spark, sf_dir, "embeddings"),
        _pq_model_for(spark, sf_dir),
    )


@standing_index("embeddings", kind="model")
def _ivfpq_model_for(spark: SparkSession, sf_dir: str):
    """Memoized IVF-PQ model (coarse centroids, residual codebooks)."""
    return pq.train_ivfpq_model(
        load_table(spark, sf_dir, "embeddings"), n_centroids=16
    )


@standing_index("embeddings")
def _ivfpq_coded_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (vec_id, cent_id, codes) IVF-PQ index under the
    memoized model — the standing inverted-list + residual-code table."""
    cmat, books = _ivfpq_model_for(spark, sf_dir)
    return pq.ivfpq_encode(load_table(spark, sf_dir, "embeddings"), cmat, books)


_PQ_MODEL_CACHE = _pq_model_for.cache
_PQ_CODES_CACHE = _pq_codes_for.cache
_IVFPQ_MODEL_CACHE = _ivfpq_model_for.cache
_IVFPQ_CODED_CACHE = _ivfpq_coded_for.cache


@query("ann_pq_topk")  # rows-only: scores rank by the trained PQ model
def ann_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jégou 2011): 8×16 codebooks, 32×
    embedding compression, search over codes via broadcast LUTs — the
    memory-bound scale path next to IVF; recall vs brute force asserted
    in tests/test_pq.py. Rides the per-snapshot model + coded-corpus
    memos (the standing compressed index), so a search trains nothing
    and encodes nothing."""
    return pq.pq_topk(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < 10,
        k=5,
        codebooks=_pq_model_for(spark, sf_dir),
        codes=_pq_codes_for(spark, sf_dir),
    )


@query("ann_ivfpq_topk")  # rows-only: ranks by the trained composed model
def ann_ivfpq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (FAISS IndexIVFPQ layout): coarse inverted
    lists route queries to n_probe lists, PQ codes on RESIDUALS score
    candidates via broadcast LUT + per-list bias — the deployable
    billion-scale configuration; recall vs brute force in
    tests/test_pq.py. Rides the per-snapshot model + coded-index memos
    (the standing IVF-PQ index)."""
    return pq.ivfpq_topk(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < 10,
        k=5,
        model=_ivfpq_model_for(spark, sf_dir),
        coded=_ivfpq_coded_for(spark, sf_dir),
    )


@query("pq_compression_stats")  # rows-only: fidelity of the trained model
def pq_compression_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ fidelity report: raw vs coded bytes per vector and mean
    reconstruction cosine — the go/no-go number for enabling PQ on a
    corpus (near 1.0 = ranking survives compression). Scores the SAME
    memoized model the search path serves (that pairing is the
    semantics: the report grades the deployed model)."""
    return pq.pq_compression_stats(
        load_table(spark, sf_dir, "embeddings"),
        codebooks=_pq_model_for(spark, sf_dir),
    )


@query(
    "embedding_doc_dedup",
    oracle=f"""
    WITH v AS (
      SELECT d.doc_id, d.lang, d.source, CAST(e.embedding AS DOUBLE[]) AS e
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.lang AS lang_a, b.lang AS lang_b,
             ROUND({_COS_SQL.format(d=_ANN_DIMS + 1, a='a', b='b')}, 6) AS cosine
      FROM v a JOIN v b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, lang_a, lang_b, cosine
    FROM p WHERE cosine >= {_DUP_COS_TAU}
    """,
)
def embedding_doc_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup DOCUMENT pairs: documents joined to their
    embedding vectors (doc_id = vec_id), pairs above threshold.

    Scale shape: blocked exact scan (block-grid equi-join, one BLAS matmul
    per cell) — at τ=0.3 the candidate set ≈ all pairs, so structured
    O(n²) beats any pruning attempt; no CartesianProduct node (asserted in
    tests/test_plans.py). The DuckDB oracle stays the all-pairs
    definition. At realistic dedup thresholds (τ ≥ 0.9) switch
    method='lsh', which prunes and keeps full recall (recall-tested).
    Ref posture: snowflake_bq_deduplication_sync.py done at corpus scale.
    r13: the pair table now rides a per-snapshot memo shared with the
    dedup provenance rollup (its semantic verdict resolves transitive
    groups over exactly these pairs)."""
    return _embdoc_pairs_for(spark, sf_dir)


#: Memoized embedding-cosine DOC pair table (doc_a, doc_b, lang_a,
#: lang_b, cosine): the pair view (embedding_doc_dedup) and the
#: semantic side of the provenance rollup consume the same blocked
#: BLAS scan — near-dup-pair sized, single live handle.
@standing_index("documents", "embeddings")
def _embdoc_pairs_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.join(docs, emb.vec_id == docs.doc_id, "left_semi")
    pairs = similarity.dup_pairs(
        vecs, _DUP_COS_TAU, method="blocked"
    ).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        "cosine",
    )
    la = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a")
    )
    lb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b")
    )
    return (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .select("doc_a", "doc_b", "lang_a", "lang_b", "cosine")
    )


_EMBDOC_PAIRS_CACHE = _embdoc_pairs_for.cache


#: Memoized SEMANTIC dup-group worklist: transitive closure (pointer-
#: jumping CC) over the embedding-cosine doc pairs — SemDeDup's exact
#: reference semantics (transitive cosine groups, keep = min-id member;
#: the kmeans scoping in semdedup_prune is the scale APPROXIMATION of
#: exactly this rule). CC resolves count actions at plan-BUILD time, so
#: the worklist materializes once per snapshot like _DUP_CLUSTERS_CACHE.
@standing_index("documents", "embeddings")
def _sem_groups_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph.dup_clusters(_embdoc_pairs_for(spark, sf_dir))


_SEM_GROUPS_CACHE = _sem_groups_for.cache


@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token
      FROM documents
    ),
    tc AS (
      SELECT doc_id, token, COUNT(*) AS term_count
      FROM toks GROUP BY doc_id, token
    ),
    dt AS (
      SELECT doc_id, CAST(SUM(term_count) AS BIGINT) AS doc_tokens
      FROM tc GROUP BY doc_id
    ),
    dfc AS (SELECT token, COUNT(*) AS doc_freq FROM tc GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tc.doc_id, tc.token, tc.term_count, dfc.doc_freq,
             ROUND((CAST(tc.term_count AS DOUBLE) / CAST(dt.doc_tokens AS DOUBLE))
                   * LN(CAST(n.n_docs AS DOUBLE) / CAST(dfc.doc_freq AS DOUBLE)),
                   6) AS tfidf
      FROM tc JOIN dt USING (doc_id) JOIN dfc USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, term_count, doc_freq, tfidf, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, token
      ) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by TF-IDF; shares the
    memoized unigram tok_counts with the vocab queries."""
    return text_ops.tfidf_top_terms(
        load_table(spark, sf_dir, "documents"),
        k=5,
        tok_counts=_tok_counts_for(spark, sf_dir),
    )


#: Recursive-CTE transitive closure over the exact-Jaccard dup pairs →
#: lab(doc_id, canonical_id).  Shared by dedup_clusters (which reports
#: the worklist) and dataset_split_assign_cluster_safe (which hashes the
#: canonical id as the split key).  Callers prepend
#: ``WITH RECURSIVE {_SHINGLE_SQL},`` themselves.
_CLUSTER_LAB_SQL = f"""
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS intersection_size
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(intersection_size AS DOUBLE)
            / (sa.sz + sb.sz - intersection_size) >= {_JACCARD_TAU}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node
    ),
    lab AS (SELECT node AS doc_id, MIN(r) AS canonical_id
            FROM reach GROUP BY node)
"""


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    {_CLUSTER_LAB_SQL}
    SELECT l.doc_id, l.canonical_id, c.cluster_size,
           l.doc_id = l.canonical_id AS is_canonical
    FROM lab l
    JOIN (SELECT canonical_id, COUNT(*) AS cluster_size
          FROM lab GROUP BY canonical_id) c USING (canonical_id)
    """,
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dup-cluster resolution over exact Jaccard pairs — the
    KEEP/DROP worklist (ref: snowflake_bq_deduplication_sync.py:214
    keep-one-per-key, generalized to fuzzy matches). The oracle computes
    the same closure with a recursive CTE; Spark uses pointer-jumping
    label propagation (operators/graph.py) — both converge to the exact
    per-component minimum, so values hash-match."""
    return _dup_clusters_for(spark, sf_dir)


# Cumulative cutoffs for (train .90, val .05): .90 -> e66, .95 -> f33 —
# derived from the one source of truth so the oracle can never drift
# from curation.SPLIT_FRACTIONS.
_SPLIT_THR_TRAIN = curation.sample_threshold_hex(
    curation.SPLIT_FRACTIONS[0][1]
)
_SPLIT_THR_VAL = curation.sample_threshold_hex(
    curation.SPLIT_FRACTIONS[0][1] + curation.SPLIT_FRACTIONS[1][1]
)
_SPLIT_KEY_SQL = "COALESCE(l.canonical_id, d.doc_id)"


@query(
    "dataset_split_assign_cluster_safe",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    {_CLUSTER_LAB_SQL}
    SELECT d.doc_id, d.source,
           {_SPLIT_KEY_SQL} AS split_key,
           CASE
             WHEN substr(md5(CAST({_SPLIT_KEY_SQL} AS VARCHAR)), 1, 3)
                  < '{_SPLIT_THR_TRAIN}' THEN 'train'
             WHEN substr(md5(CAST({_SPLIT_KEY_SQL} AS VARCHAR)), 1, 3)
                  < '{_SPLIT_THR_VAL}' THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents d LEFT JOIN lab l USING (doc_id)
    """,
)
def dataset_split_assign_cluster_safe_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leakage-safe train/val/test split: whole near-dup clusters land in
    one split (split key = the cluster's canonical id, singletons hash
    their own id), so cross-split dup pairs are zero BY CONSTRUCTION —
    the assignment a pretraining pipeline runs after dedup, closing the
    leak `cross_split_contamination` measures on the per-doc split.
    Rides the shared Jaccard pair memo; the oracle reuses
    dedup_clusters' recursive-CTE closure for the same canonical ids.
    Zero cross-split pairs + measured contamination reduction asserted
    in tests/test_curation.py."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    clusters = _dup_clusters_for(spark, sf_dir)
    return curation.dataset_split_cluster_safe(docs, clusters)


_SPLIT_DOC_CASE = f"""CASE
             WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 3)
                  < '{_SPLIT_THR_TRAIN}' THEN 'train'
             WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 3)
                  < '{_SPLIT_THR_VAL}' THEN 'val'
             ELSE 'test'
           END"""
_SPLIT_SAFE_CASE = f"""CASE
             WHEN substr(md5(CAST({_SPLIT_KEY_SQL} AS VARCHAR)), 1, 3)
                  < '{_SPLIT_THR_TRAIN}' THEN 'train'
             WHEN substr(md5(CAST({_SPLIT_KEY_SQL} AS VARCHAR)), 1, 3)
                  < '{_SPLIT_THR_VAL}' THEN 'val'
             ELSE 'test'
           END"""


@query(
    "split_leakage_compare",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    {_CLUSTER_LAB_SQL},
    spl AS (
      SELECT d.doc_id,
             {_SPLIT_DOC_CASE} AS split_doc,
             {_SPLIT_SAFE_CASE} AS split_safe
      FROM documents d LEFT JOIN lab l USING (doc_id)
    ),
    pe AS (
      SELECT a.split_doc AS da, b.split_doc AS db,
             a.split_safe AS sa, b.split_safe AS sb
      FROM pairs p
      JOIN spl a ON p.doc_a = a.doc_id
      JOIN spl b ON p.doc_b = b.doc_id
    )
    SELECT 'per_doc' AS strategy,
           COUNT(*) FILTER (WHERE da != db) AS cross_split_pairs,
           COUNT(*) AS total_pairs,
           ROUND(CAST(COUNT(*) FILTER (WHERE da != db) AS DOUBLE)
                 / COUNT(*), 6) AS leak_share
    FROM pe
    UNION ALL
    SELECT 'cluster_safe',
           COUNT(*) FILTER (WHERE sa != sb),
           COUNT(*),
           ROUND(CAST(COUNT(*) FILTER (WHERE sa != sb) AS DOUBLE)
                 / COUNT(*), 6)
    FROM pe
    """,
)
def split_leakage_compare_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured contamination-reduction view behind the cluster-safe
    split: for BOTH split strategies, how many verified near-dup pairs
    straddle two splits (held-out leakage) out of all pairs. per_doc
    leaks ~2·frac·(1-frac) of pairs by hash independence;
    cluster_safe is 0 by construction — this is the one-look report a
    pipeline keeps next to the split decision. One pair-memo join + two
    tiny aggregates; pairs are the memoized exact-Jaccard table."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    clusters = _dup_clusters_for(spark, sf_dir)
    safe = curation.dataset_split_cluster_safe(docs, clusters).select(
        "doc_id", F.col("split").alias("split_safe")
    )
    plain = curation.dataset_split(docs, "doc_id").select(
        "doc_id", F.col("split").alias("split_doc")
    )
    sp = plain.join(safe, "doc_id")
    pe = (
        _jaccard_pairs_for(spark, sf_dir)
        .select("doc_a", "doc_b")
        .join(
            sp.select(
                F.col("doc_id").alias("doc_a"),
                F.col("split_doc").alias("da"),
                F.col("split_safe").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("doc_b"),
                F.col("split_doc").alias("db"),
                F.col("split_safe").alias("sb"),
            ),
            "doc_b",
        )
    )

    def _report(tag: str, a: str, b: str) -> DataFrame:
        cross = F.count(F.when(F.col(a) != F.col(b), F.lit(1)))
        return pe.agg(
            cross.alias("cross_split_pairs"),
            F.count(F.lit(1)).alias("total_pairs"),
            F.round(
                cross.cast("double") / F.count(F.lit(1)), 6
            ).alias("leak_share"),
        ).select(
            F.lit(tag).alias("strategy"),
            "cross_split_pairs",
            "total_pairs",
            "leak_share",
        )

    return _report("per_doc", "da", "db").unionByName(
        _report("cluster_safe", "sa", "sb")
    )


@query(
    "dedup_savings_report",
    oracle=f"""
    WITH RECURSIVE h AS (
      SELECT doc_id, md5(text) AS ch,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      FROM documents
    ),
    g AS (SELECT ch, MIN(doc_id) AS cid FROM h GROUP BY ch),
    hd AS (
      SELECT h.doc_id, h.toks, h.doc_id != g.cid AS is_dup
      FROM h JOIN g ON h.ch = g.ch
    ),
    surv AS (SELECT doc_id, toks FROM hd WHERE NOT is_dup),
    {_SHINGLE_SQL},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS intersection_size
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(intersection_size AS DOUBLE)
            / (sa.sz + sb.sz - intersection_size) >= {_JACCARD_TAU}
    ),
    spairs AS (
      SELECT doc_a, doc_b FROM pairs
      JOIN surv sa ON doc_a = sa.doc_id
      JOIN surv sb ON doc_b = sb.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM spairs
      UNION
      SELECT doc_b, doc_a FROM spairs
    ),
    reach(node, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node
    ),
    lab AS (SELECT node AS doc_id, MIN(r) AS canonical
            FROM reach GROUP BY node),
    fz AS (
      SELECT COUNT(*) AS fuzzy_dup_docs,
             COALESCE(CAST(SUM(s.toks) AS BIGINT), 0) AS fuzzy_dup_tokens
      FROM lab l JOIN surv s USING (doc_id) WHERE l.doc_id != l.canonical
    ),
    ex AS (
      SELECT COUNT(*) AS n_docs,
             COUNT(CASE WHEN is_dup THEN 1 END) AS exact_dup_docs,
             CAST(SUM(toks) AS BIGINT) AS tokens_total,
             COALESCE(CAST(SUM(CASE WHEN is_dup THEN toks END) AS BIGINT), 0)
               AS exact_dup_tokens
      FROM hd
    )
    SELECT ex.n_docs, ex.exact_dup_docs, fz.fuzzy_dup_docs,
           ex.exact_dup_docs + fz.fuzzy_dup_docs AS docs_removable,
           ex.tokens_total, ex.exact_dup_tokens, fz.fuzzy_dup_tokens,
           ROUND(CAST(ex.exact_dup_docs + fz.fuzzy_dup_docs AS DOUBLE)
                 / CAST(ex.n_docs AS DOUBLE), 6) AS removable_doc_frac,
           ROUND(CAST(ex.exact_dup_tokens + fz.fuzzy_dup_tokens AS DOUBLE)
                 / CAST(ex.tokens_total AS DOUBLE), 6)
             AS removable_token_frac
    FROM ex CROSS JOIN fz
    """,
)
def dedup_savings_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus-dedup ROI report: documents and whitespace tokens
    removable by exact dedup (min-doc-per-content-hash) plus fuzzy dedup
    (non-canonical Jaccard-cluster members among the exact survivors —
    the same two stages, in the same order, as the composed training
    pipeline). The number a corpus owner checks before paying for a
    dedup pass; consumes the memoized cluster table, so it adds one tiny
    rollup to work the dedup queries already did."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_size(F.split(F.col("text"), " ")).cast("long")
    base = docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("ch"),
        toks.alias("toks"),
    )
    g = base.groupBy("ch").agg(F.min("doc_id").alias("cid"))
    # Four consumers read hd (the exact rollup, both sides of the
    # survivor-pair semi-joins, and the fuzzy rollup's token attach) and
    # Spark reuses no exchange between them — unpersisted, the md5 +
    # hash-groupBy + join subtree executed 4× (8 parquet scans of
    # documents in the r13 plan). One managed persist of the narrow
    # (doc_id, ch, toks, is_dup) table fills once and serves all four.
    from ..operators._cache import swap_cache

    hd = swap_cache(
        "dedup_savings_hd",
        base.join(g, "ch").withColumn(
            "is_dup", F.col("doc_id") != F.col("cid")
        ),
    )
    ex = hd.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("is_dup"), F.lit(1))).alias("exact_dup_docs"),
        F.sum("toks").alias("tokens_total"),
        F.coalesce(
            F.sum(F.when(F.col("is_dup"), F.col("toks"))),
            F.lit(0).cast("long"),
        ).alias("exact_dup_tokens"),
    )
    surv = hd.filter(~F.col("is_dup")).select("doc_id", "toks")
    # Fuzzy stage rides the MEMOIZED full-corpus cluster table instead of
    # re-running pointer-jumping CC on the survivor-restricted pair set
    # per call (r14; the CC loop's eager jobs were ~2.1s of warm
    # construct time at sf0.1). Equivalence: an exact-dup non-survivor x
    # has text identical to its surviving canonical c (c < x by the
    # min-doc_id rule), so jaccard(a, x) = jaccard(a, c) for every a —
    # every pair edge through x exists through c too (same shingles,
    # same threshold verdict, same df-cap verdict). Dropping x therefore
    # never disconnects a component, never changes a component's minimum
    # (the minimum is always a survivor: c < x for every non-survivor
    # x), and never removes a survivor's only pair edge. So the
    # survivor-restricted CC labels are exactly the full-CC labels
    # joined to the survivor set — which is what the oracle's
    # survivor-pairs recursive CTE computes (hash-match green).
    labels = _dup_clusters_for(spark, sf_dir)
    fz = (
        labels.filter(~F.col("is_canonical"))
        .join(surv, "doc_id")
        .agg(
            F.count(F.lit(1)).alias("fuzzy_dup_docs"),
            F.coalesce(F.sum("toks"), F.lit(0).cast("long")).alias(
                "fuzzy_dup_tokens"
            ),
        )
    )
    removable = F.col("exact_dup_docs") + F.col("fuzzy_dup_docs")
    tok_removable = F.col("exact_dup_tokens") + F.col("fuzzy_dup_tokens")
    return ex.crossJoin(F.broadcast(fz)).select(
        "n_docs",
        "exact_dup_docs",
        "fuzzy_dup_docs",
        removable.alias("docs_removable"),
        "tokens_total",
        "exact_dup_tokens",
        "fuzzy_dup_tokens",
        F.round(
            removable.cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("removable_doc_frac"),
        F.round(
            tok_removable.cast("double")
            / F.col("tokens_total").cast("double"),
            6,
        ).alias("removable_token_frac"),
    )


@query(
    "paragraph_dedup",
    oracle=f"""
    WITH sp AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, CAST(ceil(len(w) / {float(curation.PARA_WORDS)}) AS BIGINT)),
               i -> struct_pack(
                 ci := i,
                 ct := array_to_string(
                   list_slice(w, i * {curation.PARA_WORDS} + 1,
                              (i + 1) * {curation.PARA_WORDS}), ' ')))) AS c
      FROM sp
    ),
    f AS (
      SELECT doc_id, c.ci AS chunk_idx, c.ct AS chunk_text FROM ch
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                                   ORDER BY doc_id, chunk_idx) AS rn
      FROM f
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
                               ORDER BY chunk_idx), '') AS dedup_text
    FROM r GROUP BY doc_id
    """,
)
def paragraph_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-chunk removal (CCNet/RefinedWeb line-dedup
    pattern over k-word windows): keep each distinct chunk's first
    occurrence, reassemble docs from survivors."""
    return curation.paragraph_dedup(load_table(spark, sf_dir, "documents"))


_TFIDF_SIM_TAU = 0.7


@query(
    "tfidf_doc_similarity",
    oracle=f"""
    WITH sp AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    toks AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS token
      FROM sp
    ),
    tc AS (
      SELECT doc_id, token, COUNT(*) AS term_count
      FROM toks GROUP BY doc_id, token
    ),
    dt AS (
      SELECT doc_id, CAST(SUM(term_count) AS BIGINT) AS doc_tokens
      FROM tc GROUP BY doc_id
    ),
    dfc AS (SELECT token, COUNT(*) AS doc_freq FROM tc GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tc.doc_id, tc.token,
             ROUND((CAST(tc.term_count AS DOUBLE) / CAST(dt.doc_tokens AS DOUBLE))
                   * LN(CAST(n.n_docs AS DOUBLE) / CAST(dfc.doc_freq AS DOUBLE)),
                   6) AS w
      FROM tc JOIN dt USING (doc_id) JOIN dfc USING (token) CROSS JOIN n
    ),
    topk AS (
      SELECT doc_id, token, w FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY w DESC, token
        ) AS rank FROM scored
      ) WHERE rank <= 10
    ),
    norms AS (
      SELECT doc_id,
             SQRT(CAST(SUM(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE)) AS nrm
      FROM topk GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(CAST(a.w * b.w AS DECIMAL(28,12))) AS DOUBLE) AS dot
      FROM topk a JOIN topk b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON doc_a = na.doc_id
    JOIN norms nb ON doc_b = nb.doc_id
    WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= {_TFIDF_SIM_TAU}
    """,
)
def tfidf_doc_similarity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector doc similarity over top-10 TF-IDF 3-gram terms.
    Rides the _tfidf_topk_for memo: profiling showed the per-call
    rebuild of the top-k persist (during the max-df guard's stats
    collect) WAS the query's steady-state cost (~4s of a ~4.4s call at
    sf0.1), so the table is built once per corpus snapshot."""
    return text_ops.tfidf_doc_similarity(
        load_table(spark, sf_dir, "documents"),
        _TFIDF_SIM_TAU,
        k=10,
        ngram=3,
        topk=_tfidf_topk_for(spark, sf_dir),
    )


#: Persisted (doc_id, token, w, nrm) top-k TF-IDF table per corpus
#: snapshot — deterministic given the corpus, so snapshot-keyed reuse is
#: exact. Same single-live-snapshot lifecycle as _ASSIGN_CACHE.
@standing_index("documents")
def _tfidf_topk_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.tfidf_topk_table(
        load_table(spark, sf_dir, "documents"), k=10, ngram=3
    )


_TFIDF_TOPK_CACHE = _tfidf_topk_for.cache


_EVAL_SOURCE = "src19"


@query(
    "decontamination_overlap",
    oracle=f"""
    WITH sp AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, source, gram FROM (
        SELECT doc_id, source,
               unnest(list_transform(range(1, greatest(len(w) - 3, 1)),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                           || w[i+3] || ' ' || w[i+4])) AS gram
        FROM sp WHERE len(w) >= 5
      )
    ),
    e AS (SELECT DISTINCT gram FROM g WHERE source = '{_EVAL_SOURCE}'),
    sh AS (
      SELECT g.doc_id, COUNT(*) AS n
      FROM g JOIN e USING (gram) WHERE g.source <> '{_EVAL_SOURCE}'
      GROUP BY g.doc_id
    )
    SELECT d.doc_id, d.source,
           COALESCE(sh.n, 0) AS n_shared_ngrams,
           COALESCE(sh.n, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN sh USING (doc_id)
    WHERE d.source <> '{_EVAL_SOURCE}'
    """,
)
def decontamination_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style eval-set decontamination: flag training docs sharing
    any word-5-gram with the held-out source's documents."""
    return curation.decontamination_overlap(
        load_table(spark, sf_dir, "documents"), _EVAL_SOURCE
    )


@query(
    "cross_split_contamination",
    oracle="""
    WITH sp AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             CASE
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < 'e66'
                 THEN 'train'
               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < 'f33'
                 THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, split, gram FROM (
        SELECT doc_id, split,
               unnest(list_transform(range(1, greatest(len(w) - 3, 1)),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                           || w[i+3] || ' ' || w[i+4])) AS gram
        FROM sp WHERE len(w) >= 5
      )
    ),
    t AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
    sh AS (
      SELECT g.doc_id, COUNT(*) AS n
      FROM g JOIN t USING (gram) WHERE g.split <> 'train'
      GROUP BY g.doc_id
    )
    SELECT s.doc_id, s.split,
           COALESCE(sh.n, 0) AS n_shared_train_ngrams,
           COALESCE(sh.n, 0) > 0 AS leaked
    FROM sp s LEFT JOIN sh USING (doc_id)
    WHERE s.split <> 'train'
    """,
)
def cross_split_contamination_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out-leakage QA: per val/test doc, distinct word-5-grams shared
    with ANY train-split doc under the deterministic md5 split — the check
    that near-dup documents haven't straddled the train/eval boundary
    (split-axis twin of decontamination_overlap; the held-out side is a
    corpus fraction, so the gram join shuffles both sides instead of
    assuming a broadcastable eval set)."""
    return curation.cross_split_contamination(
        load_table(spark, sf_dir, "documents")
    )


#: Trained k-means centroids per (sf_dir, k, iters) — collected rows, the
#: same once-per-corpus model-memo pattern as _BPE_MERGE_CACHE (the model
#: IS driver state; re-learning it per consuming query is pure waste).
#: LRU-bounded + superseded-fingerprint eviction via _ModelMemo.
@standing_index(
    "embeddings",
    kind="model",
    view=lambda spark, rows, as_rows: (
        rows if as_rows
        else spark.createDataFrame(rows, "cent_id long, ce array<double>")
    ),
)
def _centroids_for(
    spark: SparkSession,
    sf_dir: str,
    k: int = 8,
    iters: int = 3,
    exclude_mod: int | None = None,
    *,
    as_rows: bool = False,
):
    """Memoized k-means model over the embeddings snapshot.
    ``exclude_mod`` trains on the BASE subset only (vec_id % mod != 0)
    — the standing model of the incremental-IVF maintenance query,
    which must NOT have seen the daily increment.  ``as_rows`` returns
    the memoized driver-side row list itself (r15): the similarity
    operators accept it directly, skipping both the per-call
    ``createDataFrame`` and — far costlier — the per-call
    ``cents.collect()``/``cents.count()`` job a 16-row local relation
    still dispatches (~0.3-0.4s each, measured)."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    if exclude_mod is not None:
        v = v.filter(F.col("vec_id") % exclude_mod != 0)
    return [
        (int(r["cent_id"]), list(r["ce"]))
        for r in similarity.train_centroids(v, k, iters).collect()
    ]


_CENTROID_CACHE = _centroids_for.cache


#: Shared per-(snapshot, model) assignment pass (vec_id, e, cent_id):
#: kmeans_doc_clusters and semdedup_prune share the k=8 table, and the
#: whole ann_ivf_* family shares the two k=16 tables (full model for
#: ann_ivf_topk / ann_ivf_recall_curve; exclude_mod=10 base-trained
#: model for ann_ivf_incremental_topk / ann_ivf_list_drift) — the
#: standing inverted-list index of a deployed IVF, materialized once
#: per model instead of re-derived per query.  Eviction is
#: per-SNAPSHOT (a superseded fingerprint drops every model built on
#: it) rather than evict-all-on-new-key: one bench run legitimately
#: holds all three live models at once, and each is corpus-rows ×
#: 3 columns — bounded like the pair-table memos.
@standing_index("embeddings")
def _assigned_for(
    spark: SparkSession,
    sf_dir: str,
    k: int = 8,
    exclude_mod: int | None = None,
) -> DataFrame:
    """Persisted full-corpus nearest-centroid assignment under the
    memoized ``_centroids_for(spark, sf_dir, k, exclude_mod=...)``
    model.  ``exclude_mod`` picks the BASE-trained model (the standing
    index of the incremental-maintenance queries); the assignment pass
    itself always covers the full corpus — incremental consumers filter
    rows, they don't re-score them."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return similarity._assign(
        v,
        _centroids_for(spark, sf_dir, k, exclude_mod=exclude_mod, as_rows=True),
        "vec_id",
        "e",
        1,
    )


_ASSIGN_CACHE = _assigned_for.cache


#: Brute-force cosine top-k memo: ann_cosine_topk IS the exactness
#: baseline every ANN diagnostic compares against, so its result table
#: (queries × k rows — tiny) is persisted once per snapshot and reused
#: as ann_ivf_recall_curve's ground truth instead of re-running the
#: corpus-scale brute-force scan inside the curve.
@standing_index("embeddings")
def _brute_topk_for(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    return similarity.cosine_topk(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < 10,
        k=k,
    ).withColumn("rank", F.col("rank").cast("long"))


_BRUTE_TOPK_CACHE = _brute_topk_for.cache


@query("kmeans_doc_clusters")  # rows-only: iterative float clustering
def kmeans_doc_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means topical clustering of document embeddings (assignments,
    cluster sizes, cosine-to-centroid); self-consistency and inertia
    properties asserted in tests/test_similarity.py. Shares the trained
    k=8 model AND the assignment pass with semdedup_prune via the
    centroid/assignment memos."""
    return similarity.kmeans_clusters(
        load_table(spark, sf_dir, "embeddings"),
        n_clusters=8,
        centroids=_centroids_for(spark, sf_dir, 8, as_rows=True),
        assigned=_assigned_for(spark, sf_dir, 8),
    )


@query(
    "incremental_dedup_check",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    inter AS (
      SELECT n.doc_id, o.doc_id AS corpus_id, COUNT(*) AS i
      FROM sh n JOIN sh o ON n.shingle = o.shingle
      WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 != 0
      GROUP BY n.doc_id, o.doc_id
    ),
    scored AS (
      SELECT i.doc_id, i.corpus_id,
             CAST(i.i AS DOUBLE) / (sn.sz + so.sz - i.i) AS j
      FROM inter i
      JOIN sizes sn ON i.doc_id = sn.doc_id
      JOIN sizes so ON i.corpus_id = so.doc_id
      WHERE CAST(i.i AS DOUBLE) / (sn.sz + so.sz - i.i) >= {_JACCARD_TAU}
    ),
    best AS (
      SELECT doc_id, corpus_id AS best_match_id, ROUND(j, 6) AS best_jaccard
      FROM (
        SELECT doc_id, corpus_id, j,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY j DESC, corpus_id) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT d.doc_id, b.best_match_id, b.best_jaccard,
           b.best_match_id IS NOT NULL AS is_duplicate
    FROM documents d LEFT JOIN best b USING (doc_id)
    WHERE d.doc_id % 5 = 0
    """,
)
def incremental_dedup_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment dedup: check incoming docs (every 5th) against the
    existing corpus via the asymmetric hashed-shingle inverted index;
    best corpus match per incoming doc or nulls. The probe side is
    pruned by the memoized corpus Bloom bitmap (_incr_bloom_for) —
    exactness-preserving (no false negatives), so the oracle is
    untouched."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    # Slices of the shared hashed-shingle memo: shingling is per-doc, so
    # filtering the corpus-wide index by doc_id is exactly the index of
    # the filtered docs — no second explode+dedup+hash build.
    sh = _shingles_for(spark, sf_dir)
    return neardup.incremental_neardup_check(
        corpus,
        incoming,
        _JACCARD_TAU,
        sh_corpus=sh.filter(F.col("doc_id") % 5 != 0),
        sh_incoming=sh.filter(F.col("doc_id") % 5 == 0),
        corpus_bloom=_incr_bloom_for(spark, sf_dir),
        guard_stats=_guard_stats_for(spark, sf_dir, corpus_only=True),
    )


#: FLOOR for the bitmap width (2^23 bits = 1 MB). The actual width is
#: data-dependent (see _bloom_bits_for): a fixed width silently loses
#: its <1% false-positive rate the moment the corpus outgrows it — at
#: 10× the keys the FP rate climbs to ~38% and the prefilter stops
#: pruning (still CORRECT — no false negatives at any width — but
#: pure overhead). Sizing from the observed key count keeps the prune
#: effective at any corpus scale.
_INCR_BLOOM_BITS = 1 << 23


#: Once-per-corpus Bloom bitmap over the corpus-side shingle hashes of
#: the incremental-dedup index — O(n_bits) driver state, independent of
#: corpus size: the production analog of a standing daily-increment
#: membership filter persisted next to the shingle index. _ModelMemo
#: lifecycle like the other model caches.
@standing_index("documents", kind="model")
def _incr_bloom_for(spark: SparkSession, sf_dir: str) -> list[int]:
    from ..operators.bloom import bits_for_keys, build_bloom

    sh = _shingles_for(spark, sf_dir)
    corpus_sh = sh.filter(F.col("doc_id") % 5 != 0)
    # Cheap sizing aggregate (HLL sketch, one partial-agg pass over
    # the already-persisted shingle memo; ±2% error is irrelevant
    # against the 2× sizing ladder). Runs once per corpus snapshot —
    # amortized into the same memo as the bitmap build itself.
    n_keys = int(
        corpus_sh.agg(
            F.approx_count_distinct("__h").alias("n")
        ).collect()[0]["n"]
    )
    return build_bloom(
        corpus_sh, "__h", bits_for_keys(n_keys, _INCR_BLOOM_BITS)
    )


_INCR_BLOOM_CACHE = _incr_bloom_for.cache


_SUBSTR_W = 40


_SUBSTR_S = 10


@query(
    "substring_dup_profile",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS len FROM documents
      WHERE length(text) >= {_SUBSTR_W}
    ),
    w AS (
      SELECT doc_id, text, len,
             unnest(range(1, len - {_SUBSTR_W} + 2, {_SUBSTR_S})) AS start
      FROM d
    ),
    w2 AS (
      SELECT doc_id, len, start, start + {_SUBSTR_W} - 1 AS fin,
             md5(substr(text, CAST(start AS INTEGER), {_SUBSTR_W})) AS h
      FROM w
    ),
    dh AS (SELECT h FROM w2 GROUP BY h HAVING COUNT(*) > 1),
    dup AS (SELECT w2.doc_id, w2.start, w2.fin FROM w2 JOIN dh USING (h)),
    isl AS (
      SELECT doc_id, start, fin,
             CASE WHEN start > COALESCE(
               MAX(fin) OVER (PARTITION BY doc_id ORDER BY start
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS new_isl
      FROM dup
    ),
    isl2 AS (
      SELECT doc_id, start, fin,
             SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY start) AS isl_id
      FROM isl
    ),
    cov AS (
      SELECT doc_id, isl_id, MAX(fin) - MIN(start) + 1 AS covered
      FROM isl2 GROUP BY doc_id, isl_id
    ),
    per AS (
      SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS dup_chars
      FROM cov GROUP BY doc_id
    ),
    dc AS (
      SELECT doc_id, COUNT(*) AS n_dup_windows FROM dup GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, len, COUNT(*) AS n_windows FROM w2 GROUP BY doc_id, len
    )
    SELECT base.doc_id, base.n_windows,
           COALESCE(dc.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(per.dup_chars, 0) AS dup_chars,
           CAST(COALESCE(per.dup_chars, 0) AS DOUBLE)
             / CAST(base.len AS DOUBLE) AS dup_char_share
    FROM base
    LEFT JOIN dc USING (doc_id)
    LEFT JOIN per USING (doc_id)
    """,
)
def substring_dup_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc exact-substring duplication profile: rolling {W}-char
    windows at stride {S}, window content occurring >1x anywhere in the
    corpus marks its span duplicated; spans union via gaps-and-islands.
    The windowed (suffix-array-free) form of Lee et al. 2021 substring
    dedup — the sub-document generalization of the reference's row-level
    dedup sweep (snowflake_bq_deduplication_sync.py:214)."""
    return neardup.substring_dup_profile(
        load_table(spark, sf_dir, "documents"), _SUBSTR_W, _SUBSTR_S
    )


@query(
    "dedup_provenance_rollup",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    {_CLUSTER_LAB_SQL},
    exh AS (SELECT doc_id, md5(text) AS ch FROM documents),
    exg AS (SELECT ch, MIN(doc_id) AS cid FROM exh GROUP BY ch),
    exv AS (
      SELECT exh.doc_id, exh.doc_id != exg.cid AS ex_dup
      FROM exh JOIN exg USING (ch)
    ),
    v AS (
      SELECT d.doc_id, CAST(e.embedding AS DOUBLE[]) AS e
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    sp2 AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM v a JOIN v b ON a.doc_id < b.doc_id
      WHERE ROUND({_COS_SQL.format(d=_ANN_DIMS + 1, a='a', b='b')}, 6)
            >= {_DUP_COS_TAU}
    ),
    sedges AS (
      SELECT doc_a AS src, doc_b AS dst FROM sp2
      UNION SELECT doc_b, doc_a FROM sp2
    ),
    sreach(node, r) AS (
      SELECT src, src FROM sedges
      UNION
      SELECT e.src, r.r FROM sedges e JOIN sreach r ON e.dst = r.node
    ),
    slab AS (SELECT node AS doc_id, MIN(r) AS cid
             FROM sreach GROUP BY node),
    per AS (
      SELECT d.doc_id, d.source,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
             CASE
               WHEN exv.ex_dup THEN 'exact_dup'
               WHEN l.doc_id IS NOT NULL AND l.doc_id != l.canonical_id
                 THEN 'near_dup'
               WHEN s.doc_id IS NOT NULL AND s.doc_id != s.cid
                 THEN 'semantic_dup'
               ELSE 'kept'
             END AS reason
      FROM documents d
      LEFT JOIN exv USING (doc_id)
      LEFT JOIN lab l USING (doc_id)
      LEFT JOIN slab s USING (doc_id)
    ),
    tot AS (SELECT source, COUNT(*) AS n_src FROM per GROUP BY source)
    SELECT per.source, per.reason,
           COUNT(*) AS n_docs,
           CAST(SUM(per.n_tokens) AS BIGINT) AS tokens_total,
           ROUND(CAST(COUNT(*) AS DOUBLE) / tot.n_src, 6) AS doc_share
    FROM per JOIN tot ON per.source = tot.source
    GROUP BY per.source, per.reason, tot.n_src
    """,
)
def dedup_provenance_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, reason) rollup of the per-doc dedup PROVENANCE
    verdict (operators/curation.dedup_provenance): every doc gets
    exactly one mutually-exclusive reason by precedence exact_dup >
    near_dup > semantic_dup > kept — the audit table a curation run
    ships next to the corpus (engine form of the reference's
    keep-one-per-key delete sweep,
    snowflake_bq_deduplication_sync.py:270, with attribution). The
    semantic verdict is SemDeDup's exact reference semantics —
    transitive embedding-cosine groups, keep = min id — resolved over
    the memoized embedding-doc pair table (the kmeans-scoped
    semdedup_prune is the scale approximation of the same rule).
    Counts + exact token sums + one rounded count ratio, so the rollup
    is hash-exact on any engine. Rides the lexical cluster memo, the
    embedding pair memo, and the semantic group memo; the only new work
    is the constant-width exact-hash groupBy. Conservation (every doc
    exactly one verdict; precedence exclusivity) pytest-pinned in
    tests/test_curation.py."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.array_size(F.split(F.col("text"), " "))
        .cast("long")
        .alias("n_tokens"),
        "text",
    )
    per = curation.dedup_provenance(
        docs.select("doc_id", "source", "n_tokens"),
        neardup.exact_dedup(docs),
        _dup_clusters_for(spark, sf_dir),
        _sem_groups_for(spark, sf_dir),
    )
    agg = per.groupBy("source", "reason").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_total"),
    )
    tot = per.groupBy("source").agg(F.count(F.lit(1)).alias("__n_src"))
    return agg.join(F.broadcast(tot), "source").select(
        "source",
        "reason",
        "n_docs",
        "tokens_total",
        F.round(
            F.col("n_docs").cast("double") / F.col("__n_src"), 6
        ).alias("doc_share"),
    )


_SPAN_W = neardup.SPAN_WINDOW
_SPAN_MINL = neardup.SPAN_MIN_LEN

#: Memoized winnowing anchor table per documents snapshot — the
#: persistable STANDING index of the ExactSubstr family (the spans/cut
#: queries build from it, and the incremental probe slices it by doc_id,
#: which is exact because winnowing selection is per-doc).
@standing_index("documents")
def _span_anchors_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup.span_anchor_table(load_table(spark, sf_dir, "documents"))


_SPAN_ANCHORS_CACHE = _span_anchors_for.cache


#: Memoized pairs-mode maximal-span table per documents snapshot — the
#: standing-index posture for the ExactSubstr family: the spans TABLE is
#: a pure function of the corpus (hash-independent: it equals the set of
#: maximal common substrings >= the winnowing guarantee, pytest-pinned to
#: a naive quadratic reference), and both the spans query and the
#: span-cut curation rollup consume it, so it materializes once per
#: snapshot instead of re-running the anchor join per consumer.
@standing_index("documents")
def _spans_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup.substring_dup_spans(
        load_table(spark, sf_dir, "documents"),
        anchors=_span_anchors_for(spark, sf_dir),
    )


_SPANS_CACHE = _spans_for.cache


def _span_runs_sql(match_where: str) -> str:
    """The shared DuckDB re-derivation of the ExactSubstr span set, from
    first principles (winnowing anchors only ACCELERATE discovery — the
    set itself is hash-independent): fixed-width window hashes joined
    across docs become per-diagonal match runs, and a maximal run of
    L - w + 1 windows IS a maximal common substring of length L (the
    _naive_maximal_spans equivalence, in SQL). ``match_where`` picks the
    pair orientation (a < b for the pairwise set; a standing / b
    incoming for the incremental probe)."""
    return f"""
    sdocs AS (
      SELECT doc_id, source, text, CAST(length(text) AS BIGINT) AS len
      FROM documents
    ),
    swin AS (
      SELECT doc_id,
             unnest(range(1, len - {_SPAN_W} + 2)) AS i,
             text
      FROM sdocs WHERE len >= {_SPAN_W}
    ),
    shash AS (
      SELECT doc_id, i,
             md5(substr(text, CAST(i AS INTEGER), {_SPAN_W})) AS h
      FROM swin
    ),
    smatch AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
      FROM shash a JOIN shash b USING (h)
      WHERE {match_where}
    ),
    sruns AS (
      SELECT doc_a, doc_b, ib - ia AS diag, ia, ib,
             ib - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, ib - ia ORDER BY ib
             ) AS grp
      FROM smatch
    )"""


_SPAN_SELECT_SQL = f"""
    SELECT doc_a, doc_b,
           CAST(MIN(ia) AS BIGINT) AS start_a,
           CAST(MIN(ib) AS BIGINT) AS start_b,
           CAST(MAX(ib) - MIN(ib) + {_SPAN_W} AS BIGINT) AS span_len
    FROM sruns GROUP BY doc_a, doc_b, diag, grp
    HAVING MAX(ib) - MIN(ib) + {_SPAN_W} >= {_SPAN_MINL}
"""


@query(
    "substring_dup_spans",
    oracle="WITH "
    + _span_runs_sql("a.doc_id < b.doc_id")
    + _SPAN_SELECT_SQL,
)
def substring_dup_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT maximal duplicated spans across doc pairs (Lee et al. 2021
    ExactSubstr semantics; sub-document generalization of the
    reference's row-level dedup sweep,
    snowflake_bq_deduplication_sync.py:214): winnowing-selected window
    anchors (alignment-free, unlike substring_dup_profile's stride
    grid), each anchor pair verified by character comparison and
    extended to its maximal run. Every span of length >=
    window+band-1 is found with exact boundaries — pinned equal to a
    naive per-diagonal quadratic reference in tests/test_neardup.py AND
    oracle-gated (r14 promotion to ⊕): the span SET is hash-independent,
    so DuckDB re-derives it from window-hash diagonal runs with no
    winnowing at all. Linearity enrolled in SCALE_SMOKE; rides the
    per-snapshot anchor + spans memos shared with span_cut_rollup."""
    return _spans_for(spark, sf_dir)


@query(
    "incremental_span_check",
    oracle="WITH "
    + _span_runs_sql("a.doc_id % 5 != 0 AND b.doc_id % 5 = 0")
    + _SPAN_SELECT_SQL,
)
def incremental_span_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment ExactSubstr probe: maximal duplicated spans of
    the incoming slice (every 5th doc — the incremental_dedup_check
    split) against the standing corpus, at exact boundaries. The
    span-grain twin of incremental_dedup_check, sharing its posture:
    the corpus side is a doc_id slice of the MEMOIZED standing anchor
    index (exact — winnowing selection is per-doc), the increment only
    probes, and cost is O(increment + true shared spans). Oracle-gated
    like the pairwise set (the span set is hash-independent); equality
    to the orientated pairs-mode set is additionally pytest-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    anchors = _span_anchors_for(spark, sf_dir)
    return neardup.incremental_span_check(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        anchors_corpus=anchors.filter(F.col("doc_id") % 5 != 0),
        anchors_incoming=anchors.filter(F.col("doc_id") % 5 == 0),
    )


# The cut rollup's oracle rides the shared span re-derivation
# (_span_runs_sql). Cut intervals for each pair's LATER doc union per
# doc via gaps-and-islands; chars_kept is re-derived as
# chars_in - chars_removed on the oracle side, so a hash match PROVES
# the Spark stitch conserved every character.
@query(
    "span_cut_rollup",
    oracle="WITH "
    + _span_runs_sql("a.doc_id < b.doc_id")
    + f""",
    sspans AS (
      SELECT doc_b AS doc_id, MIN(ib) AS s, MAX(ib) + {_SPAN_W} - 1 AS e
      FROM sruns GROUP BY doc_a, doc_b, diag, grp
      HAVING MAX(ib) - MIN(ib) + {_SPAN_W} >= {_SPAN_MINL}
    ),
    sord AS (
      SELECT doc_id, s, e,
             MAX(e) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS pme
      FROM sspans
    ),
    sisl AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pme IS NULL OR s > pme + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS grp
      FROM sord
    ),
    smerged AS (
      SELECT doc_id, grp, MIN(s) AS ms, MAX(e) AS me
      FROM sisl GROUP BY doc_id, grp
    ),
    sper_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_isl,
             CAST(SUM(me - ms + 1) AS BIGINT) AS removed
      FROM smerged GROUP BY doc_id
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(COUNT(p.doc_id) AS BIGINT) AS docs_touched,
           CAST(COALESCE(SUM(p.n_isl), 0) AS BIGINT) AS spans_cut,
           CAST(SUM(d.len) AS BIGINT) AS chars_in,
           CAST(COALESCE(SUM(p.removed), 0) AS BIGINT) AS chars_removed,
           CAST(SUM(d.len) - COALESCE(SUM(p.removed), 0) AS BIGINT)
             AS chars_kept,
           ROUND(CAST(COALESCE(SUM(p.removed), 0) AS DOUBLE)
                 / CAST(SUM(d.len) AS DOUBLE), 6) AS removed_share
    FROM sdocs d LEFT JOIN sper_doc p USING (doc_id)
    GROUP BY d.source
    """,
)
def span_cut_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus accounting for the ExactSubstr span-CUT curation pass
    (operators/neardup.span_cut — cut every non-canonical maximal span,
    keep the first occurrence, reassemble survivors; the span-grain
    engine form of the reference's row-delete dedup sweep,
    snowflake_bq_deduplication_sync.py:214): per source, docs touched,
    merged spans cut, chars in/removed/kept, removed share. chars_kept
    is SUM(length(cut_text)) over the actual reassembled docs while the
    oracle derives it as chars_in - chars_removed — the hash match is
    therefore an end-to-end conservation proof of the stitch, not just
    of the interval arithmetic (per-doc conservation + overlap-merge
    equality pytests in tests/test_neardup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    cut = neardup.span_cut(docs, spans=_spans_for(spark, sf_dir))
    return (
        docs.select("doc_id", "source")
        .join(cut, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("chars_removed") > 0).cast("long")).alias(
                "docs_touched"
            ),
            F.sum("spans_cut").alias("spans_cut"),
            F.sum("orig_chars").alias("chars_in"),
            F.sum("chars_removed").alias("chars_removed"),
            F.sum(F.length("cut_text").cast("long")).alias("chars_kept"),
            F.round(
                F.sum("chars_removed").cast("double")
                / F.sum("orig_chars").cast("double"),
                6,
            ).alias("removed_share"),
        )
    )


#: Memoized SemDeDup verdict table per embeddings snapshot. Profiled
#: r11 (construct-vs-exec discipline): ~95% of a per-call run is plan
#: CONSTRUCTION — the connected-components fixed-point loop executes
#: count jobs and lineage cuts while the plan is being BUILT, and the
#: cluster-size collect adds one more — vs ~1.5s of actual execution
#: from the truncated lineage. The verdict table is a pure function of
#: the snapshot (same standing-index posture as the pair-table memos),
#: so the CC resolve runs once per corpus and every re-read is a cached
#: scan. O(corpus) rows × 5 narrow columns, MEMORY_AND_DISK.
@standing_index("embeddings")
def _semdedup_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semdedup_prune(
        load_table(spark, sf_dir, "embeddings"),
        n_clusters=8,
        assigned=_assigned_for(spark, sf_dir, 8),
    )


_SEMDEDUP_CACHE = _semdedup_for.cache


@query("cluster_quality_report")  # rows-only: k-means float cluster ids
def cluster_quality_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TOPICAL-cluster quality triage: the k=8 k-means assignment
    (shared standing memo, doc_id = vec_id) joined to each doc's
    heuristic quality score — which semantic clusters carry low-quality
    mass is the read a SemDeDup-style curation pass acts on (prune or
    downweight whole clusters, not scattered docs). One sparse join +
    an 8-row aggregate; nothing new at corpus scale. Invariants
    (doc-count conservation, share bounds) in tests/test_similarity.py."""
    docs = load_table(spark, sf_dir, "documents")
    q = text_ops.quality_score(docs)
    assigned = _assigned_for(spark, sf_dir, 8).select(
        F.col("vec_id").alias("doc_id"), "cent_id"
    )
    low = F.count(F.when(F.col("quality_bucket") == "low", F.lit(1)))
    return (
        assigned.join(q, "doc_id")
        .groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens_total"),
            F.round(F.avg("quality_score"), 6).alias("mean_quality"),
            low.alias("n_low"),
            F.round(low.cast("double") / F.count(F.lit(1)), 6).alias(
                "low_share"
            ),
        )
        .orderBy("cent_id")
    )


@query("semdedup_prune")  # rows-only: k-means model + float clustering
def semdedup_prune_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023): within-k-means-cluster
    cosine groups resolved transitively; keep = min-id representative.
    Group/keep invariants asserted in tests/test_similarity.py. Shares
    the trained k=8 model AND the assignment pass with
    kmeans_doc_clusters via the centroid/assignment memos, and the
    resolved verdict table rides its own per-snapshot memo
    (_semdedup_for — see the construct-vs-exec attribution there)."""
    return _semdedup_for(spark, sf_dir)


@query(
    "embedding_outlier_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    d AS (
      SELECT vec_id, unnest(e) AS val, generate_subscripts(e, 1) AS pos
      FROM v
    ),
    cent AS (
      SELECT pos,
             CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
      FROM d GROUP BY pos
    ),
    dist AS (
      SELECT d.vec_id,
             SUM(CAST((d.val - cent.c) * (d.val - cent.c)
                      AS DECIMAL(28,12))) AS s2
      FROM d JOIN cent USING (pos) GROUP BY d.vec_id
    )
    SELECT v.vec_id, v.label,
           ROUND(SQRT(CAST(dist.s2 AS DOUBLE)), 6) AS centroid_dist
    FROM dist JOIN v USING (vec_id)
    ORDER BY centroid_dist DESC, vec_id
    LIMIT 50
    """,
)
def embedding_outlier_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier triage: top-50 vectors by distance to the
    corpus centroid (exact decimal sums make the centroid and distances
    engine-identical; plan is one 1-row aggregate + TakeOrdered)."""
    return similarity.centroid_outliers(
        load_table(spark, sf_dir, "embeddings"), k=50, dims=_ANN_DIMS
    )


@query(
    "embedding_norm_profile",
    oracle="""
    WITH v AS (
      SELECT label,
             ROUND(SQRT(list_aggregate(
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
               'sum')), 6) AS norm
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MIN(norm) AS min_norm,
           MAX(norm) AS max_norm,
           ROUND(SUM(CAST(CAST(norm AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                 / (COUNT(*) * 1000000.0), 6) AS avg_norm
    FROM v GROUP BY label ORDER BY label
    """,
)
def embedding_norm_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: per-label L2-norm profile (count, min/max, exact
    mean).  Degenerate norms are the standard upstream-encoder failure
    signal (all-zero rows, un-normalized batches, fp16 overflow) and the
    norm distribution decides whether cosine and dot-product retrieval
    agree — checked per label so one bad source can't hide in the global
    stats.

    Cross-engine determinism: the per-vector norm uses the same in-order
    fold as the cosine oracles (zip_with/aggregate == list_transform/
    list_aggregate 'sum'), rounded to 6dp; the MEAN then sums exact
    integer micros of the rounded norms (functions.money_micros pattern)
    so no double add-order can drift the hash.  Scale: row-local map +
    one reduced groupBy — no window, no collect."""
    from ..functions import money_micros

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "label",
        F.round(
            similarity._norm(F.col("embedding").cast("array<double>")), 6
        ).alias("norm"),
    )
    return (
        v.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
            F.round(
                F.sum(money_micros(F.col("norm"))).cast("double")
                / (F.count(F.lit(1)) * F.lit(1_000_000.0)),
                6,
            ).alias("avg_norm"),
        )
        .orderBy("label")
    )


@query(
    "cross_source_ngram_overlap",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    ssrc AS (
      SELECT DISTINCT d.source, s.shingle
      FROM sh s JOIN documents d USING (doc_id)
    ),
    zz AS (SELECT source, COUNT(*) AS sz FROM ssrc GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS shared_shingles
      FROM ssrc a JOIN ssrc b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, shared_shingles,
           za.sz AS size_a, zb.sz AS size_b,
           ROUND(CAST(shared_shingles AS DOUBLE)
                 / (za.sz + zb.sz - shared_shingles), 6) AS jaccard
    FROM inter
    JOIN zz za ON source_a = za.source
    JOIN zz zb ON source_b = zb.source
    """,
)
def cross_source_ngram_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair shingle-overlap matrix (mirrored/scraped-twice feed
    detection before per-doc pair finding); consumes the shared hashed-
    shingle memo — see operators/neardup.source_ngram_overlap for the
    bounded-fan-out scale posture."""
    return neardup.source_ngram_overlap(
        load_table(spark, sf_dir, "documents"),
        sh=_shingles_for(spark, sf_dir),
    )


@query("lsh_band_load_profile")  # rows-only: xxhash64 band buckets, no SQL twin
def lsh_band_load_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH bucket-load histogram (per band: bucket-size
    distribution + implied candidate-pair volume) — the pre-flight skew
    read before paying for the candidate join; band hashing is shared
    with dedup_minhash_lsh so the profile describes exactly that join.
    Rides the shared signature memo. Bucket-math pinned in
    tests/test_chunk_zipf_overlap.py."""
    return neardup.lsh_band_load_profile(
        load_table(spark, sf_dir, "documents"),
        sigs=_minhash_sigs_for(spark, sf_dir),
    )


@query(
    "dup_pair_similarity_histogram",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS intersection_size
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pj AS (
      SELECT CAST(intersection_size AS DOUBLE)
               / (sa.sz + sb.sz - intersection_size) AS j
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(intersection_size AS DOUBLE)
            / (sa.sz + sb.sz - intersection_size) >= {_JACCARD_TAU}
    ),
    h AS (
      SELECT CAST(floor(j * 20) AS BIGINT) AS bucket_idx,
             COUNT(*) AS n_pairs
      FROM pj GROUP BY 1
    )
    SELECT bucket_idx, ROUND(bucket_idx / 20.0, 6) AS bucket_lo, n_pairs,
           ROUND(CAST(n_pairs AS DOUBLE) / SUM(n_pairs) OVER (), 6)
             AS pair_share
    FROM h
    """,
)
def dup_pair_similarity_histogram_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Similarity histogram over the verified near-dup pairs (0.05-wide
    Jaccard buckets + pair share): measures which similarity REGIME the
    dedup threshold sits in — mass piling up at the threshold means LSH
    candidates stop pruning and the structured exact scan is the honest
    plan (README "pick the plan by the similarity regime", now a query).
    Rides the memoized pair table."""
    return neardup.pair_similarity_histogram(_jaccard_pairs_for(spark, sf_dir))


@query("lsh_band_tuning_curve")  # rows-only: xxhash64 signatures, no SQL twin
def lsh_band_tuning_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter-tuning table: per (b bands × r rows) config of the
    shared 32-perm signature, the theoretical S-curve midpoint next to
    the MEASURED candidate volume on this corpus — bucket counters only,
    no pair enumeration (costs the same at any candidate density).
    Nesting monotonicity pinned in tests/test_chunk_zipf_overlap.py."""
    return neardup.lsh_band_tuning_curve(
        load_table(spark, sf_dir, "documents"),
        sigs=_minhash_sigs_for(spark, sf_dir),
    )


@query("simhash_hamming_histogram")  # rows-only: xxhash64 signatures
def simhash_hamming_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming histogram over SimHash band candidates (near-dup mass vs
    chance-collision noise floor — where to place max_hamming); rides
    the shared per-snapshot SimHash signature memo."""
    return neardup.simhash_hamming_histogram(
        load_table(spark, sf_dir, "documents"),
        sig=_simhash_sigs_for(spark, sf_dir),
    )


#: Standing probe-scored candidate table for the recall ladder
#: (query_id, probe_rank, neighbor_id, cosine over EVERY list of the
#: k=16 model): a pure function of (snapshot, model, ladder queries),
#: and the ladder's remaining dominant per-call cost once ground truth
#: and assignment were standing (r14 left it as a per-call swap_cache
#: fill). Same single-live-snapshot lifecycle as _ASSIGN_CACHE; any
#: probes ladder is a prefix filter of this table.
@standing_index("embeddings")
def _recall_scored_for(
    spark: SparkSession, sf_dir: str, k_model: int = 16
) -> DataFrame:
    cents = _centroids_for(spark, sf_dir, k_model, as_rows=True)
    return similarity.ivf_probe_scored(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < 10,
        cents,
        _assigned_for(spark, sf_dir, k_model),
        max_probe=len(cents),
    )


_RECALL_SCORED_CACHE = _recall_scored_for.cache


@query("ann_ivf_recall_curve")  # rows-only: ranks through Spark-side floats
def ann_ivf_recall_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF n_probe tuning ladder: recall@5 vs brute force for probe
    counts 1..16 of the SAME memoized index — the shared assignment
    memo (no per-query corpus scan), ann_cosine_topk's persisted result
    as the brute-force ground truth (the dominant cost, computed once
    per snapshot), and the standing probe-scored candidate memo
    (_recall_scored_for — r15; the per-call fill was the remaining
    dominant cost) serve the whole ladder; recall is nondecreasing and
    exactly 1.0 at full probe (pytest-pinned)."""
    return similarity.ivf_recall_curve(
        load_table(spark, sf_dir, "embeddings"),
        F.col("vec_id") < 10,
        k=5,
        centroids=_centroids_for(spark, sf_dir, 16, as_rows=True),
        assigned=_assigned_for(spark, sf_dir, 16),
        exact=_brute_topk_for(spark, sf_dir, k=5),
        scored=_recall_scored_for(spark, sf_dir, 16),
    )
