"""Cross-query memo caches (registry pair tables / models) key on a corpus
snapshot fingerprint: rewriting the dataset at the SAME path must miss the
cache and recompute instead of serving stale state."""

from __future__ import annotations

from snowflake_to_bq_pipeline_spark import registry


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        [
            (i, t, "en", "src", len(t))
            for i, t in rows
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_jaccard_memo_invalidates_on_rewrite(spark, tmp_path):
    d = str(tmp_path)
    base = "the quick brown fox jumps over the lazy dog again and again"
    _write_docs(
        spark,
        d,
        [(1, base), (2, base), (3, "completely unrelated words occupy this document body here")],
    )
    first = registry._jaccard_pairs_for(spark, d)
    # warm hit: same live handle, no recompute
    assert registry._jaccard_pairs_for(spark, d) is first
    n1 = first.count()
    assert n1 == 1  # docs 1-2 duplicate

    # rewrite at the SAME path: two dup pairs now
    _write_docs(
        spark,
        d,
        [(1, base), (2, base), (3, base)],
    )
    second = registry._jaccard_pairs_for(spark, d)
    assert second is not first  # fingerprint changed -> recompute
    assert second.count() == 3  # 1-2, 1-3, 2-3


def test_fingerprint_stable_without_changes(tmp_path):
    (tmp_path / "documents.parquet").write_bytes(b"x" * 16)
    a = registry._corpus_fingerprint(str(tmp_path), "documents")
    b = registry._corpus_fingerprint(str(tmp_path), "documents")
    assert a == b
    (tmp_path / "documents.parquet").write_bytes(b"y" * 17)
    assert registry._corpus_fingerprint(str(tmp_path), "documents") != a


def test_model_memo_lru_bound_and_fingerprint_eviction():
    m = registry._ModelMemo(maxsize=3)
    # superseded fingerprint for the same sf_dir is dropped on put
    m.put(("/a", "fp1", 8), "model-a1")
    m.put(("/a", "fp2", 8), "model-a2")
    assert m.get(("/a", "fp1", 8)) is None
    assert m.get(("/a", "fp2", 8)) == "model-a2"
    assert len(m) == 1
    # same fingerprint, different params: both live
    m.put(("/a", "fp2", 16), "model-a2-k16")
    assert len(m) == 2
    # LRU eviction beyond maxsize, in recency order
    m.put(("/b", "fpb", 8), "model-b")
    assert m.get(("/a", "fp2", 8)) == "model-a2"  # touch -> most recent
    m.put(("/c", "fpc", 8), "model-c")  # evicts LRU = ("/a","fp2",16)
    assert m.get(("/a", "fp2", 16)) is None
    assert m.get(("/a", "fp2", 8)) == "model-a2"
    assert len(m) == 3


def test_centroid_memo_bounded_across_corpora(spark, tmp_path):
    """Cycling more corpora than the cap must evict, and a re-request of an
    evicted corpus must recompute the correct model (not a stale one)."""
    import numpy as np

    cap = registry._CENTROID_CACHE.maxsize
    registry.clear_model_caches()
    dirs = []
    for c in range(cap + 2):
        d = str(tmp_path / f"corpus{c}")
        rows = [
            (i, [float(c + 1) * 10 + (i % 2), float(i % 3)]) for i in range(12)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        dirs.append(d)
    firsts = [registry._centroids_for(spark, d, 2, 2).collect() for d in dirs]
    assert len(registry._CENTROID_CACHE) <= cap
    # corpus 0 was evicted; recompute must return the same (deterministic)
    # model, proving eviction triggers a correct recompute, not staleness
    again = registry._centroids_for(spark, dirs[0], 2, 2).collect()
    a = sorted((r.cent_id, [round(x, 9) for x in r.ce]) for r in again)
    b = sorted((r.cent_id, [round(x, 9) for x in r.ce]) for r in firsts[0])
    assert a == b
    assert np.isfinite([x for _cid, ce in a for x in ce]).all()


def test_clear_model_caches_covers_every_registry_cache(spark, tmp_path):
    """Every module-level *_CACHE in the registry must be emptied by
    clear_model_caches() — guards the easy future bug of adding a memo
    and forgetting the reset hook."""
    d = str(tmp_path)
    base = "the quick brown fox jumps over the lazy dog again and again"
    _write_docs(spark, d, [(1, base), (2, base)])
    # populate a couple of cheap ones so the test isn't vacuous
    registry._jaccard_pairs_for(spark, d)
    registry._shingles_for(spark, d)
    registry._tok_counts_for(spark, d)
    caches = {
        name: obj
        for name, obj in vars(registry).items()
        if name.endswith("_CACHE")
    }
    assert len(caches) >= 7, sorted(caches)  # the known memo population
    assert any(len(c) for c in caches.values())
    registry.clear_model_caches()
    for name, c in caches.items():
        assert len(c) == 0, f"{name} not cleared by clear_model_caches()"


def test_clear_model_caches_resets(spark, tmp_path):
    d = str(tmp_path)
    _write_docs(spark, d, [(1, "alpha beta gamma delta epsilon zeta eta")])
    first = registry._jaccard_pairs_for(spark, d)
    registry.clear_model_caches()
    assert not registry._JACCARD_PAIRS_CACHE
    assert registry._jaccard_pairs_for(spark, d) is not first


def _write_embeddings(spark, path, n, dims=4):
    spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5 - 2) + 0.5 for j in range(dims)]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")


def test_assign_cache_holds_all_live_models_per_snapshot(spark, tmp_path):
    """r12: the assignment memo must hold EVERY (k, exclude_mod) model
    of the live snapshot simultaneously (the k=8 cluster model and both
    k=16 IVF models coexist within one bench run — evict-all-on-new-key
    would thrash), and a snapshot rewrite must drop all of them."""
    d = str(tmp_path)
    _write_embeddings(spark, d, 40)
    a8 = registry._assigned_for(spark, d, 8)
    a16 = registry._assigned_for(spark, d, 16)
    a16x = registry._assigned_for(spark, d, 16, exclude_mod=10)
    # warm hits: same live handles, all three coexist
    assert registry._assigned_for(spark, d, 8) is a8
    assert registry._assigned_for(spark, d, 16) is a16
    assert registry._assigned_for(spark, d, 16, exclude_mod=10) is a16x
    assert len(registry._ASSIGN_CACHE) >= 3
    # full-corpus coverage regardless of the model's training slice
    n = spark.read.parquet(f"{d}/embeddings.parquet").count()
    assert a16x.count() == n

    # rewrite at the SAME path: every model of the old snapshot evicted
    _write_embeddings(spark, d, 25)
    b8 = registry._assigned_for(spark, d, 8)
    assert b8 is not a8
    assert all(k[1] == registry._corpus_fingerprint(d, "embeddings")
               for k in registry._ASSIGN_CACHE)
    assert b8.count() == 25


def test_brute_topk_memo_single_materialization(spark, tmp_path):
    """ann_cosine_topk's result IS ann_ivf_recall_curve's ground truth:
    both consumers must receive the same persisted handle."""
    d = str(tmp_path)
    _write_embeddings(spark, d, 30)
    first = registry._brute_topk_for(spark, d, k=5)
    assert registry._brute_topk_for(spark, d, k=5) is first
    assert first.count() > 0
    _write_embeddings(spark, d, 20)
    assert registry._brute_topk_for(spark, d, k=5) is not first


def test_dup_clusters_memo_single_materialization(spark, tmp_path):
    """The CC worklist resolve (count actions at plan-BUILD time) must
    run once per snapshot across its four consumers."""
    d = str(tmp_path)
    base = "the quick brown fox jumps over the lazy dog again and again"
    _write_docs(spark, d, [(1, base), (2, base), (3, "other words here live in this doc")])
    first = registry._dup_clusters_for(spark, d)
    assert registry._dup_clusters_for(spark, d) is first
    assert first.count() == 2  # docs 1-2 form one cluster


def test_assign_cache_bounded_across_snapshot_dirs(spark, tmp_path):
    """r13 ADVICE: a multi-sf_dir session (the scale/skew smokes visit
    several snapshot directories) must not accumulate persisted
    corpus-sized assignment tables for every directory it touches —
    entering a NEW snapshot directory evicts the previous one's entries,
    the same single-live-snapshot lifecycle as every other DataFrame
    memo."""
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    _write_embeddings(spark, d1, 30)
    _write_embeddings(spark, d2, 20)
    a = registry._assigned_for(spark, d1, 8)
    registry._assigned_for(spark, d2, 8)
    assert all(k[0] == d2 for k in registry._ASSIGN_CACHE), (
        "stale snapshot-dir entries survived the memo fill"
    )
    assert registry._assigned_for(spark, d1, 8) is not a


def test_word_tokens_cache_bounded_across_snapshot_dirs(spark, tmp_path):
    """Same cross-sf_dir bound for the encoded-vocabulary memo."""
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    base = "the quick brown fox jumps over the lazy dog again and again"
    _write_docs(spark, d1, [(1, base), (2, base + " extra words")])
    _write_docs(spark, d2, [(1, base), (2, "short doc")])
    from snowflake_to_bq_pipeline_spark.registry import section_e_text as t

    a = t._word_tokens_for(spark, d1, "bpe")
    t._word_tokens_for(spark, d2, "bpe")
    assert all(k[0] == d2 for k in t._WORD_TOKENS_CACHE)
    assert t._word_tokens_for(spark, d1, "bpe") is not a


def test_standing_index_positional_and_keyword_share_one_entry(spark, tmp_path):
    """Params are bound through the helper's signature, so ``k`` passed
    positionally or by keyword is one memo entry and one handle."""
    d = str(tmp_path)
    _write_embeddings(spark, d, 20)
    registry.clear_model_caches()
    a = registry._assigned_for(spark, d, 16)
    n = len(registry._ASSIGN_CACHE)
    assert registry._assigned_for(spark, d, k=16) is a
    assert len(registry._ASSIGN_CACHE) == n == 1


def test_memo_helpers_are_the_decorated_standing_indexes():
    assert set(registry._MEMO_HELPERS) == set(registry.STANDING_INDEXES)
    for name, helper in registry.STANDING_INDEXES.items():
        assert getattr(registry, name) is helper


def test_all_caches_holds_one_cache_per_standing_index():
    caches = registry._all_caches()
    assert set(caches) == set(registry.STANDING_INDEXES)
    assert len({id(c) for c in caches.values()}) == len(registry.STANDING_INDEXES)
    for name, helper in registry.STANDING_INDEXES.items():
        assert caches[name] is helper.cache
