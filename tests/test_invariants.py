"""Reference-derived invariant tests (FIXTURES.md §3; SURVEY.md §5's
"views == recompute / golden behavior" strategy)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ozone_spark import tables
from ozone_spark.functions import dedup
from ozone_spark.functions.bins import FILE_BIN_BASE_EXP, FILE_BIN_MAX_IDX, size_bin_index
from ozone_spark.operators import listing
from ozone_spark.operators.namespace import namespace_rollup


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    return tables.namespace_views(spark, sf_dir)


def test_pagination_concat_equals_full_scan(spark, t):
    """Invariant 1: concatenating pages (maxKeys=7) over a prefix equals
    one full sorted scan; is_truncated is correct on every page
    (OmMetadataManagerImpl.java:1149-1196 contract)."""
    keys = t["keys"]
    prefix = "/vol2/b2/"
    full = [r.db_key for r in
            keys.where(F.col("db_key").startswith(prefix))
            .orderBy("db_key").select("db_key").collect()]
    got, start = [], ""
    for _ in range(1000):
        page = listing.list_keys(keys, prefix=prefix, start_key=start,
                                 max_keys=7).collect()
        if not page:
            break
        got.extend(r.db_key for r in page)
        truncated = page[0].is_truncated
        assert all(r.is_truncated == truncated for r in page)
        if not truncated:
            break
        start = page[-1].db_key
    assert got == full


def test_mpu_and_open_files_pagination_concat(spark, t):
    """The S1 token contract holds for the multipart-upload and
    open-files listings too (KeyManagerImpl.java:1114,1154): page
    concatenation == full scan, is_truncated correct per page."""
    mpus, oks = t["multipart_uploads"], t["open_keys"]
    full = [r.db_key for r in mpus.orderBy("db_key").select("db_key").collect()]
    got, marker = [], ""
    for _ in range(1000):
        page = listing.list_multipart_uploads(
            mpus, key_marker=marker, max_uploads=7).collect()
        if not page:
            break
        got.extend(r.db_key for r in page)
        if not page[0].is_truncated:
            break
        marker = page[-1].db_key
    assert got == full

    full = [r.db_key for r in oks.orderBy("db_key").select("db_key").collect()]
    got, start = [], ""
    for _ in range(1000):
        page = listing.list_open_files(oks, start_key=start,
                                       max_keys=9).collect()
        if not page:
            break
        got.extend(r.db_key for r in page)
        if not page[0].is_truncated:
            break
        start = page[-1].db_key
    assert got == full


def test_continue_token_roundtrip_and_tamper(spark, t):
    """S3 ContinueToken opacity (s3gateway util/ContinueToken.java):
    encode/decode round-trips, a tampered token raises, and paging
    list_objects_v2 by token equals paging by raw start_after."""
    for key in ["", "f/y1995/", "a-b-c", "käse/ü"]:
        tok = listing.encode_continue_token(key)
        assert listing.decode_continue_token(tok) == key
    with pytest.raises(ValueError):
        listing.decode_continue_token("deadbeef-00000000")
    with pytest.raises(ValueError):
        listing.decode_continue_token("not-hex")
    keys = t["keys"]
    p1 = listing.list_objects_v2(keys, "vol1", "b1", max_keys=3).collect()
    tok = listing.encode_continue_token(p1[-1].name)
    by_token = listing.list_objects_v2(
        keys, "vol1", "b1", max_keys=3, continuation_token=tok).collect()
    by_raw = listing.list_objects_v2(
        keys, "vol1", "b1", max_keys=3, start_after=p1[-1].name).collect()
    assert [r.name for r in by_token] == [r.name for r in by_raw]


def test_bfs_depth_bound_raises_not_truncates(spark):
    """A tree deeper than the BFS safety bound must raise, never return
    a silently truncated purge set (round-2 VERDICT #4)."""
    from ozone_spark.operators.fso import directory_delete_expansion
    dirs, parent = [], "/v/b"
    for d in range(1, 6):
        path = parent + f"/d{d}"
        dirs.append(("v", "b", parent, path, f"d{d}", d))
        parent = path
    directories = spark.createDataFrame(
        dirs, "volume string, bucket string, parent_path string, "
              "path string, name string, depth int")
    keys = spark.createDataFrame(
        [], "db_key string, object_id long, data_size long")
    with pytest.raises(RuntimeError, match="deeper than"):
        directory_delete_expansion(directories, keys, "/v/b/d1",
                                   max_depth=3)
    # at an adequate bound the same tree resolves fully
    got = directory_delete_expansion(directories, keys, "/v/b/d1",
                                     max_depth=5).collect()
    assert ("DIR", "/v/b/d1/d2/d3/d4/d5") in {(r.entry_type, r.path)
                                              for r in got}


def test_compaction_dag_depth_bound_raises(spark, sf_dir, monkeypatch):
    """The compaction-DAG walk mirrors the reference differ's
    clear-and-throw on traversal-cap overrun (ADVICE round 2)."""
    from ozone_spark.operators import compaction
    t = tables.namespace_views(spark, sf_dir)
    monkeypatch.setattr(compaction, "MAX_DAG_DEPTH", 1)
    with pytest.raises(RuntimeError, match="deeper than"):
        compaction.sst_diff_files(
            t["sst_snapshot_files"], t["sst_catalog"],
            t["compaction_edges"], "snap-s", "snap-d", "/vol1").collect()


def test_index_sizing_laws_executable(spark, sf_dir):
    """Round-2 VERDICT #9: the index-constant scaling laws are code,
    not comments — fixture sizes reproduce the shipped defaults, large
    corpora scale up, and knn_lsh actually runs at a non-default
    law-suggested width on a doubled corpus."""
    from ozone_spark.functions import similarity, sketch

    assert similarity.suggest_n_planes(1000) == similarity.N_PLANES
    assert similarity.suggest_n_planes(10**9) == 24
    assert similarity.suggest_n_centroids(10**6) == 1024
    assert similarity.suggest_band_bits(500) == similarity.NEAR_DUP_BAND_BITS
    assert similarity.suggest_band_bits(20_000) == 6
    assert similarity.suggest_band_bits(10**9) == 16
    assert sketch.suggest_bloom_m(1700) == sketch.BLOOM_M
    assert sketch.suggest_bloom_m(10**9) == 1 << 34

    emb = tables.load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    doubled = emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(n)))
    width = similarity.suggest_n_planes(2 * n)
    got = similarity.knn_lsh(doubled, [20, 21], k=5, probe_hamming=1,
                             n_planes=width).collect()
    # each query's identical twin (vec_id + n) shares its signature at
    # any width, so it must surface with cos_sim == 1.0
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for q in (20, 21):
        top = sorted(by_q[q], key=lambda r: r.rank)[0]
        assert top.cos_sim == 1.0

    # bloom at a law-suggested (smaller) m keeps the no-false-negative
    # guarantee — only the fp rate moves
    train = emb.select(F.col("vec_id").cast("string").alias("fp")).limit(100)
    filt = sketch.bloom_build(train, m=sketch.suggest_bloom_m(100))
    assert filt.agg(F.sum(F.bit_count("word_bits"))).collect()[0][0] > 0


def test_auto_sizing_two_corpus_sizes(spark, sf_dir):
    """Round-4 VERDICT #5: the gate queries now run through the
    suggest_* defaults (knn_lsh/n_planes, knn_ivf/n_centroids,
    semantic_dedup/band_bits); this test drives each family's DEFAULT
    (auto-sized) path at the fixture size AND a replicated corpus big
    enough that the suggestion provably changes, asserting the
    twin-retrieval invariant holds at both geometries."""
    from ozone_spark.functions import similarity

    emb = tables.load_table(spark, sf_dir, "embeddings")
    n = emb.count()

    # --- n_centroids family: fixture suggests 16; a 10x corpus must
    # suggest more lists, and the identical twin still ranks first
    big = emb
    for i in range(1, 10):
        big = big.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * n)))
    assert (similarity.suggest_n_centroids(10 * n)
            > similarity.suggest_n_centroids(n) == similarity.N_CENTROIDS)
    got = similarity.knn_ivf(big, [20], k=3).collect()  # default sizing
    assert got and got[0].cos_sim == 1.0  # some identical twin on top

    # --- n_planes family: default path at fixture size (suggestion 7
    # for n=500 differs from the shipped N_PLANES=8 constant, so the
    # default path is observably the law, not the constant)
    assert similarity.suggest_n_planes(n) != similarity.N_PLANES
    got = similarity.knn_lsh(emb, [20], k=3).collect()  # default sizing
    assert got and got[0].query_id == 20

    # --- band_bits family: default semantic_dedup at a corpus size
    # where the suggestion changes (40x -> 6-bit bands) still drops
    # every higher-id identical twin (same cluster, same band sigs,
    # cosine 1.0 >= threshold)
    assert (similarity.suggest_band_bits(40 * n)
            > similarity.suggest_band_bits(n))
    big40 = emb.select("vec_id", "embedding")
    for i in range(1, 40):
        big40 = big40.unionByName(
            emb.select((F.col("vec_id") + F.lit(i * n)).alias("vec_id"),
                       "embedding"))
    out = similarity.semantic_dedup(big40, threshold=0.4)
    # every original vector's 39 twins are non-kept duplicates
    kept = out.where(F.col("is_kept")).count()
    assert kept <= n  # at most one keeper per twin family


def test_histogram_bin_edges(spark):
    """Invariant 4: bins match 2^(10+i) upper bounds incl. 0-byte,
    1-byte, exact powers, power+1, and beyond-max sizes
    (ReconUtils.java:542-597 nextClosestPowerIndexOfTwo)."""
    cases = [(0, 0), (1, 0), (1023, 0), (1024, 0), (1025, 1),
             (2048, 1), (2049, 2), (1 << 20, 10), ((1 << 20) + 1, 11),
             (1 << 50, 40), ((1 << 60), 40)]
    df = spark.createDataFrame([(s,) for s, _ in cases], "size long")
    got = df.select(
        "size",
        size_bin_index(F.col("size"), FILE_BIN_BASE_EXP, FILE_BIN_MAX_IDX)
        .alias("bin")).collect()
    by_size = {r.size: r.bin for r in got}
    for s, expected in cases:
        assert by_size[s] == expected, f"size {s}: bin {by_size[s]} != {expected}"


def test_delimiter_grouping_cases(spark, t):
    """Invariant 2: ListObjectsV2 delimiter grouping for prefixes with
    0, 1, and N delimiter levels (BucketEndpoint.java:187-230)."""
    keys = t["keys"]
    # root: everything collapses to level-1 common prefixes
    root = listing.list_objects_v2(keys, "vol1", "b1").collect()
    assert all(r.entry_type == "COMMON_PREFIX" for r in root)
    assert all(r.name.endswith("/") for r in root)
    # one delimiter level down: still common prefixes (year dirs)
    mid = listing.list_objects_v2(keys, "vol1", "b1", prefix=root[0].name).collect()
    assert mid and all(r.entry_type == "COMMON_PREFIX" for r in mid)
    # year level: a MIX of month dirs (keys with the extra m/d levels)
    # and plain order keys is legal S3 — every entry must be classified
    # by whether its remainder holds another delimiter
    leaf = listing.list_objects_v2(keys, "vol1", "b1", prefix=mid[0].name).collect()
    assert leaf
    for r in leaf:
        if r.entry_type == "KEY":
            assert r.data_size is not None
            assert "/" not in r.name[len(mid[0].name):]
        else:
            assert r.entry_type == "COMMON_PREFIX"
            assert r.name.endswith("/") and r.data_size is None
    # descend the first common prefix (if any) until a pure-key level
    pref = next((r.name for r in leaf if r.entry_type == "COMMON_PREFIX"),
                None)
    for _ in range(4):
        if pref is None:
            break
        out = listing.list_objects_v2(keys, "vol1", "b1",
                                      prefix=pref).collect()
        assert out
        pref = next((r.name for r in out
                     if r.entry_type == "COMMON_PREFIX"), None)
        if pref is None:
            assert all(r.entry_type == "KEY" and r.data_size is not None
                       for r in out)
    assert pref is None, "delimiter levels deeper than the fixture shape"


def test_rollup_parent_equals_sum_of_children(spark, t):
    """Invariant 3 (NSSummary propagate contract): every level-1 dir
    total equals the sum of its level-2 children."""
    rollup = namespace_rollup(t["keys"]).collect()
    by_path = {r.dir_path: r for r in rollup}
    lvl1 = [p for p in by_path if p.count("/") == 3]
    for p in lvl1:
        children = [r for q, r in by_path.items()
                    if q.startswith(p + "/") and q.count("/") == 4]
        assert sum(c.size_of_files for c in children) == by_path[p].size_of_files
        assert sum(c.num_files for c in children) == by_path[p].num_files


def test_quota_equals_rollup_root(spark, t):
    """Invariant 6: per-bucket quota recompute == rollup bucket root."""
    from ozone_spark.operators.namespace import quota_usage
    q = {(r.volume, r.bucket): r for r in quota_usage(t["keys"]).collect()}
    rollup = namespace_rollup(t["keys"]).collect()
    for r in rollup:
        parts = r.dir_path.split("/")
        if len(parts) == 3:  # /vol/bucket
            qq = q[(parts[1], parts[2])]
            assert qq.used_bytes == r.size_of_files
            assert qq.used_namespace == r.num_files


def test_minhash_recall_against_exact_jaccard(spark, sf_dir):
    """MinHash-LSH candidates must recover the clearly-similar pairs
    found by exact n-gram Jaccard.  Near-dups are planted (one appended
    word per variant) so the test always exercises, regardless of how
    similar the fixture corpus happens to be."""
    docs = tables.load_table(spark, sf_dir, "documents").limit(200)
    variant = docs.withColumn("doc_id", F.col("doc_id") + 100000) \
        .withColumn("text", F.concat("text", F.lit(" planted variant")))
    corpus = docs.unionByName(variant)
    exact = {(r.doc_a, r.doc_b)
             for r in dedup.ngram_jaccard_pairs(corpus, threshold=0.5).collect()}
    assert len(exact) >= 200  # every planted pair is >=0.5 Jaccard
    approx = {(r.doc_a, r.doc_b)
              for r in dedup.minhash_lsh_pairs(corpus, threshold=0.3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"minhash recall {recall}"


def test_ann_variants_recall(spark, sf_dir):
    """LSH- and IVF-probed ANN must recover a reasonable share of the
    brute-force top-10 (random 64-d vectors: weak neighbors, so the bar
    is deliberately modest) and every result must be exact-ranked."""
    from ozone_spark.functions import similarity
    emb = tables.load_table(spark, sf_dir, "embeddings")
    qids = [20, 21, 22]
    bf = {(r.query_id, r.vec_id)
          for r in similarity.knn_bruteforce(emb, qids, k=10).collect()}
    ivf = similarity.knn_ivf(emb, qids, k=10).collect()
    assert len(ivf) == 30  # full top-k for every query
    hits = {(r.query_id, r.vec_id) for r in ivf}
    assert len(bf & hits) / len(bf) >= 0.1
    # cos_sim of every ANN result must equal the brute-force score
    bf_scores = {(r.query_id, r.vec_id): r.cos_sim
                 for r in similarity.knn_bruteforce(emb, qids, k=5000).collect()}
    for r in ivf:
        assert abs(bf_scores[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9


def test_pq_codes_and_adc_sanity(spark, sf_dir):
    """PQ invariants: codebook vectors encode to THEMSELVES at distance
    0; every vector gets exactly m codes in [0, ksub); the ADC distance
    of a knn_pq result equals the sum of its code's LUT entries
    (recomputed independently), and planted exact copies of a query are
    retrieved first."""
    from ozone_spark.functions import similarity
    emb = tables.load_table(spark, sf_dir, "embeddings")
    codes = similarity.pq_codes(emb).collect()
    n_vec = emb.count()
    assert len(codes) == n_vec * similarity.PQ_M
    for r in codes:
        assert 0 <= r.code < similarity.PQ_KSUB
        if r.vec_id < similarity.PQ_KSUB:
            assert r.code == r.vec_id and r.dist_sq == 0
    # a verbatim copy of query 20's vector must be its nearest ADC hit,
    # at exactly the query's own reconstruction error (ADC to an exact
    # copy = sum of the query's per-subspace quantization distances)
    copy = emb.where("vec_id = 20").withColumn(
        "vec_id", F.col("vec_id") + 1_000_000)
    got = similarity.knn_pq(emb.unionByName(copy), [20], k=3).collect()
    recon_err = sum(r.dist_sq for r in codes if r.vec_id == 20)
    assert got[0].vec_id == 1_000_020 and got[0].adc_dist == recon_err


def test_winnowing_detects_duplicates(spark, sf_dir):
    """A doc duplicated verbatim must share all fingerprints with its
    copy; winnowing_pairs must surface the planted pair first."""
    import pyspark.sql.functions as F
    from ozone_spark.functions.dedup import winnowing_pairs
    docs = tables.load_table(spark, sf_dir, "documents").limit(100)
    clone = docs.where(F.col("doc_id") == 0).withColumn(
        "doc_id", F.lit(100000).cast("long"))
    planted = docs.unionByName(clone)
    pairs = winnowing_pairs(planted, min_shared=2).collect()
    clone_pair = [r for r in pairs if r.doc_a == 0 and r.doc_b == 100000]
    assert clone_pair, "verbatim clone not detected"
    from ozone_spark.functions.dedup import winnowing_fingerprints
    n_fp = winnowing_fingerprints(planted).where(F.col("doc_id") == 0).count()
    # identical docs share their entire fingerprint set
    assert clone_pair[0].shared_fingerprints == n_fp


def test_snapshot_diff_classes_engineered(spark, t):
    """Invariant 5: the engineered snapshots produce every diff class."""
    from ozone_spark.operators.snapshot import snapshot_diff
    classes = {r.diff_type for r in
               snapshot_diff(t["snap1"], t["snap2"]).collect()}
    assert classes == {"CREATE", "DELETE", "MODIFY", "RENAME"}


def test_bfs_delete_expansion_deep_tree(spark):
    """B2's join loop must reach fixpoint on trees deeper than the
    fixture's two levels (here: a 5-level chain with side branches)."""
    from ozone_spark.operators.fso import directory_delete_expansion
    dirs = []
    parent = "/v/b"
    for d in range(1, 6):
        path = parent + f"/d{d}"
        dirs.append(("v", "b", parent, path, f"d{d}", d))
        dirs.append(("v", "b", parent, parent + f"/side{d}", f"side{d}", d))
        parent = path
    directories = spark.createDataFrame(
        dirs, "volume string, bucket string, parent_path string, "
              "path string, name string, depth int")
    keys = spark.createDataFrame(
        [("/v/b/d1/d2/d3/d4/d5/leaf", 1, 10)],
        "db_key string, object_id long, data_size long")
    got = directory_delete_expansion(directories, keys, "/v/b/d1").collect()
    paths = {(r.entry_type, r.path) for r in got}
    assert ("DIR", "/v/b/d1/d2/d3/d4/d5") in paths          # full depth
    assert ("DIR", "/v/b/d1/d2/side3") in paths             # side branch
    assert ("FILE", "/v/b/d1/d2/d3/d4/d5/leaf") in paths    # contained file
    assert ("DIR", "/v/b/side1") not in paths               # outside subtree


def test_multimodal_feature_shapes(spark, sf_dir):
    """Multimodal plumbing: Arrow batch shape + histogram normalization."""
    from ozone_spark.functions import multimodal
    docs = tables.load_table(spark, sf_dir, "documents").limit(50)
    feats = multimodal.extract_features(multimodal.as_media_table(docs)).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r.byte_histogram) == multimodal.N_HIST_BINS
        assert abs(sum(r.byte_histogram) - 1.0) < 1e-9
        assert r.payload_len > 0


def test_media_resize_pooling(spark, sf_dir):
    """Resize plumbing: fixed output dim, and the block-mean pool
    preserves the overall byte mean (weighted by block sizes)."""
    import numpy as np

    from ozone_spark.functions import multimodal
    docs = tables.load_table(spark, sf_dir, "documents").limit(20)
    media = multimodal.as_media_table(docs)
    out = {r.doc_id: r.resized
           for r in multimodal.media_resize(media, out_dim=8).collect()}
    src = {r.doc_id: bytes(r.payload) for r in media.collect()}
    assert set(out) == set(src)
    for doc_id, vec in out.items():
        assert len(vec) == 8
        arr = np.frombuffer(src[doc_id], dtype=np.uint8)
        edges = np.linspace(0, arr.size, 9).astype(np.int64)
        weights = np.diff(edges)
        pooled_mean = float(np.dot(vec, weights)) / arr.size
        assert abs(pooled_mean - arr.mean()) < 1e-6


def test_media_decode_stub_raises(spark, sf_dir):
    """The non-fake decode path must fail loudly (no codecs here)."""
    from ozone_spark.functions import multimodal
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"xx", "image", fake=False)


def test_connected_components_chain_and_islands(spark):
    """A 6-hop chain must collapse into ONE cluster labeled by its min
    member (pointer jumping handles diameter > iteration count of the
    naive propagation), and disjoint islands must stay separate."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),   # chain
         (20, 21),                                          # island
         (30, 31), (31, 32), (30, 32)],                     # triangle
        "doc_a long, doc_b long")
    expect = ({(i, 1) for i in range(1, 8)}
              | {(20, 20), (21, 20)}
              | {(i, 30) for i in (30, 31, 32)})
    # both algorithm paths must produce identical labels: the adaptive
    # single-pass union-find (default at this size) and the distributed
    # pointer-jumping loop (forced via local_max_edges=0)
    got_local = {(r.doc_id, r.cluster_id)
                 for r in dedup.connected_components(pairs).collect()}
    got_dist = {(r.doc_id, r.cluster_id)
                for r in dedup.connected_components(
                    pairs, local_max_edges=0).collect()}
    assert got_local == expect
    assert got_dist == expect


def test_duplicate_clusters_cover_all_pairs(spark, sf_dir):
    """Every near-dup pair's endpoints share a cluster; every cluster
    is labeled by its minimum member; keepers are exactly one per
    cluster."""
    docs = tables.load_table(spark, sf_dir, "documents").limit(150)
    variant = docs.withColumn("doc_id", F.col("doc_id") + 100000) \
        .withColumn("text", F.concat("text", F.lit(" planted variant")))
    corpus = docs.unionByName(variant)
    pairs = dedup.ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    assert pairs
    label = {r.doc_id: r.cluster_id
             for r in dedup.duplicate_clusters(corpus, threshold=0.5).collect()}
    for r in pairs:
        assert label[r.doc_a] == label[r.doc_b]
    members: dict[int, list[int]] = {}
    for doc, c in label.items():
        members.setdefault(c, []).append(doc)
    for c, docs_in in members.items():
        assert c == min(docs_in)


def test_semantic_dedup_keeps_cluster_min_and_drops_twins(spark, sf_dir):
    """SemDeDup invariants: the lowest-id member of every cluster is
    always kept (it has no lower-id in-cluster neighbor), and an exact
    duplicate vector (same embedding, higher id) is always dropped —
    identical vectors share cluster and every band."""
    from ozone_spark.functions.similarity import semantic_dedup
    emb = tables.load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    twin_src = emb.where(F.col("vec_id") == 20)
    twins = twin_src.withColumn("vec_id", F.lit(n + 1000).cast("long"))
    out = semantic_dedup(emb.unionByName(twins), threshold=0.4)
    rows = {r.vec_id: r for r in out.collect()}
    assert rows[n + 1000].is_kept is False          # exact twin dropped
    assert rows[n + 1000].cluster == rows[20].cluster
    by_cluster: dict = {}
    for r in rows.values():
        c = by_cluster.setdefault(r.cluster, r)
        if r.vec_id < c.vec_id:
            by_cluster[r.cluster] = r
    for r in by_cluster.values():
        assert r.is_kept, f"cluster-min {r.vec_id} must be kept"


def test_keep_best_one_keeper_max_quality(spark, sf_dir):
    """resolve_keep_best: every doc appears once, every cluster has
    exactly one keeper, and the keeper's quality_score is the cluster
    maximum (the keep-best-not-first canonicalization policy)."""
    from ozone_spark.functions.pipeline import resolve_keep_best
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = resolve_keep_best(docs, threshold=0.1).collect()
    assert len(rows) == docs.count()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for c, members in by_cluster.items():
        keepers = [r for r in members if r.is_keeper]
        assert len(keepers) == 1, f"cluster {c}: {len(keepers)} keepers"
        assert keepers[0].quality_score == max(r.quality_score for r in members)
        assert all(r.cluster_size == len(members) for r in members)


def test_cross_corpus_dedup_engineered(spark):
    """An exact copy of an existing doc -> exact_dup; a near-variant ->
    near_dup; unrelated text -> unique.  Existing docs never appear in
    the output (the batch is checked against the corpus, not itself)."""
    from ozone_spark.functions.pipeline import cross_corpus_dedup
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, "en", "src1", len(base)),                 # existing
        (2, "completely different words entirely", "en", "src2", 10),
        (10, base, "en", "src10", len(base)),               # exact copy
        (11, base + " with a small tail added here", "en", "src11", 10),
        (12, "unrelated fresh content nothing shared with corpus docs",
         "en", "src12", 10),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    got = {r.doc_id: r.verdict
           for r in cross_corpus_dedup(docs, threshold=0.1).collect()}
    assert got[10] == "exact_dup"
    assert got[11] == "near_dup"
    assert got[12] == "unique"
    assert 1 not in got and 2 not in got


def test_duplicated_spans_planted_copy(spark, sf_dir):
    """A verbatim copy of a doc makes BOTH copies' spans 100%%
    duplicated; fractions are always in [0, 1]."""
    from ozone_spark.functions.pipeline import duplicated_spans
    docs = tables.load_table(spark, sf_dir, "documents").limit(100)
    copy = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 500000)
    rows = duplicated_spans(docs.unionByName(copy)).collect()
    by_id = {r.doc_id: r for r in rows}
    orig_id = copy.collect()[0].doc_id - 500000
    if orig_id in by_id:  # doc long enough to have spans
        assert by_id[orig_id].dup_fraction == 1.0
        assert by_id[orig_id + 500000].dup_fraction == 1.0
    for r in rows:
        assert 0.0 <= r.dup_fraction <= 1.0
        assert r.n_dup_spans <= r.n_spans


def test_training_shards_partition_and_positions(spark, sf_dir):
    """Shard/split assignment covers every doc exactly once; positions
    within each (split, shard) are a contiguous 1..k ranking; the split
    sizes respect the 98/1/1 hash cuts within tolerance."""
    from ozone_spark.functions.pipeline import training_shards
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = training_shards(docs).collect()
    assert len(rows) == docs.count()
    groups: dict[tuple, list[int]] = {}
    for r in rows:
        groups.setdefault((r.split, r.shard), []).append(r.position)
    for g, pos in groups.items():
        assert sorted(pos) == list(range(1, len(pos) + 1)), g
    n = len(rows)
    train = sum(1 for r in rows if r.split == "train")
    assert train / n > 0.9  # 98% target, loose tolerance at tiny SF


def test_bigram_lm_hand_computed(spark):
    """Add-one bigram LM on an engineered 2-doc corpus matches the
    hand-derived cross-entropy exactly (model math, not just parity)."""
    import math

    from ozone_spark.functions.mining import bigram_lm_scores
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], ["doc_id", "text"])
    rows = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
    # corpus bigrams: doc1 = (a,b),(b,a),(a,b); doc2 = (a,b)
    # c2(a,b)=3, c2(b,a)=1; c1(a)=3, c1(b)=1; V=2
    p_ab = (3 + 1) / (3 + 2)
    p_ba = (1 + 1) / (1 + 2)
    h1 = -(2 * math.log2(p_ab) + 1 * math.log2(p_ba)) / 3
    h2 = -math.log2(p_ab)
    assert rows[1].n_bigrams == 3 and rows[2].n_bigrams == 1
    assert abs(rows[1].cross_entropy_bits - round(h1, 6)) < 1e-9
    assert abs(rows[2].cross_entropy_bits - round(h2, 6)) < 1e-9
    assert abs(rows[1].perplexity - round(2 ** h1, 4)) < 1e-9


def test_kmv_estimator_properties(spark, sf_dir):
    """KMV sketch invariants: exact fallback below k, estimate within
    the 5-sigma band of the true cardinality above k, rel_error column
    consistent with the other two."""
    from ozone_spark.functions import sketch
    from ozone_spark.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    for k in (16, 64):
        rows = sketch.kmv_shingle_estimate(docs, k=k).collect()
        assert rows
        for r in rows:
            if r.exact_distinct < k:
                assert r.kmv_estimate == float(r.exact_distinct)
                assert r.rel_error == 0.0
            else:
                sigma = 1.0 / (k - 2) ** 0.5
                assert abs(r.kmv_estimate - r.exact_distinct) \
                    <= 5 * sigma * r.exact_distinct, (k, r)
            assert abs(r.rel_error
                       - round(abs(r.kmv_estimate - r.exact_distinct)
                               / r.exact_distinct, 6)) < 1e-4


def test_bloom_no_false_negatives(spark, sf_dir):
    """Bloom guarantee: a trained item can never probe 'no' — the
    (maybe=false, present=true) cell must be empty; trained items all
    land in (true, true)."""
    from ozone_spark.functions import sketch
    from ozone_spark.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    cells = {(r.maybe, r.present): r.n
             for r in sketch.bloom_membership_report(docs).collect()}
    assert (False, True) not in cells
    assert cells.get((True, True), 0) > 0


def test_decontaminate_bloom_superset_of_exact(spark, sf_dir):
    """Bloom decontamination is one-sided: per doc, the bloom hit count
    is >= the exact overlap count (false positives only, never false
    negatives), so every exactly-contaminated doc is also flagged."""
    from ozone_spark.functions import pipeline
    from ozone_spark.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where("doc_id % 25 <> 0")
    ev = docs.where("doc_id % 25 = 0")
    exact = {r.doc_id: r for r in pipeline.decontaminate(train, ev).collect()}
    bloom = {r.doc_id: r
             for r in pipeline.decontaminate_bloom(train, ev).collect()}
    assert set(exact) == set(bloom)
    for doc_id, e in exact.items():
        b = bloom[doc_id]
        assert b.n_shingles == e.n_shingles
        assert b.n_bloom_hits >= e.n_overlapping
        if e.contaminated:
            assert b.flagged


def test_cms_never_undercounts(spark, sf_dir):
    """Count-min guarantee: counters only over-count, so the min over
    rows is >= the exact frequency for every token."""
    from ozone_spark.functions import sketch
    from ozone_spark.tables import load_table
    docs = load_table(spark, sf_dir, "documents")
    rows = sketch.cms_token_counts(docs).collect()
    assert rows
    for r in rows:
        assert r.cms_estimate >= r.exact_count
        assert r.overcount == r.cms_estimate - r.exact_count


def test_sst_diff_reads_only_post_dest_files(spark, sf_dir):
    """Honest-history property of the compaction-DAG differ: the files
    it says must be read (DIFFERENT) are exactly the src-snapshot files
    holding NEW data — post-dest flushes (never compaction outputs,
    whose content the walk proves is covered by dest-held inputs)."""
    from ozone_spark.operators.compaction import sst_diff_files
    from ozone_spark.registry import views

    v = views(spark, sf_dir)
    out = sst_diff_files(v["sst_snapshot_files"], v["sst_catalog"],
                         v["compaction_edges"], "snap-s", "snap-d",
                         "/vol1").toPandas()
    diff = set(out[out.verdict == "DIFFERENT"].sst_id)
    snaps = v["sst_snapshot_files"].toPandas()
    cat = v["sst_catalog"].toPandas().set_index("sst_id").gen
    dest_gen = snaps[snaps.snapshot_name == "snap-d"].snapshot_gen.max()
    src_live = set(snaps[snaps.snapshot_name == "snap-s"].sst_id)
    outputs = set(v["compaction_edges"].toPandas().out_sst)
    expected = {s for s in src_live
                if cat[s] > dest_gen and s not in outputs}
    assert diff == expected
    # every SAME verdict is a file dest really holds
    same = set(out[out.verdict == "SAME"].sst_id)
    dest_live = set(snaps[snaps.snapshot_name == "snap-d"].sst_id)
    assert same <= dest_live
    # pruning keeps only ranges overlapping /vol1
    rel = out[out.relevant]
    assert (rel.verdict == "DIFFERENT").all()
    assert set(rel.sst_id) == {s for s in diff if s % 4 == 1}


def test_ivf_pq_consistent_with_flat_pq(spark, sf_dir):
    """IVF-PQ composite invariants: every returned candidate lives in a
    probed inverted list, and its ADC distance equals the flat knn_pq
    scorer's distance for the same (query, vec) pair — the IVF stage
    only restricts the candidate set, never changes the metric."""
    from ozone_spark.functions import similarity
    emb = tables.load_table(spark, sf_dir, "embeddings")
    qids = [20, 21, 22]
    got = similarity.knn_ivf_pq(emb, qids, k=10).collect()
    assert len(got) > 0
    # probed lists per query (same ranking as knn_ivf's probe stage)
    assigned = {r.vec_id: r.centroid_id
                for r in similarity.ivf_assignments(emb).collect()}
    flat = {(r.query_id, r.vec_id): r.adc_dist
            for r in similarity.knn_pq(emb, qids, k=100000).collect()}
    ivf = {(r.query_id, r.vec_id)
           for r in similarity.knn_ivf(emb, qids, k=100000).collect()}
    for r in got:
        assert (r.query_id, r.vec_id) in ivf  # same probed candidate set
        assert flat[(r.query_id, r.vec_id)] == r.adc_dist


def test_list_parts_pagination_deterministic_under_tied_block_seq(spark):
    """ListParts must page deterministically even when the fixture's
    block_seq ties (two blocks of one object sharing a seq): part
    numbers are densely re-derived over (block_seq, local_id), so page
    concatenation equals the full listing and no part is skipped or
    double-counted at a marker that lands on a tie."""
    rows = [(1, s, lid, 100 + lid, 0)
            for s, lid in [(1, 10), (1, 11), (2, 12), (2, 13), (3, 14)]]
    locs = spark.createDataFrame(
        rows, "object_id long, block_seq long, local_id long, "
              "block_len long, block_offset long")
    full = listing.list_parts(locs, 1, max_parts=100).collect()
    assert [r.part_number for r in full] == [1, 2, 3, 4, 5]
    assert len({r.etag for r in full}) == 5  # both tied blocks present
    got, marker = [], 0
    for _ in range(10):
        page = listing.list_parts(locs, 1, part_marker=marker,
                                  max_parts=2).collect()
        if not page:
            break
        got.extend((r.part_number, r.etag) for r in page)
        if not page[0].is_truncated:
            break
        marker = page[-1].part_number
    assert got == [(r.part_number, r.etag) for r in full]


def test_blocks_pending_deletion_pages_on_tx_boundary(spark, t):
    """A transaction fanning out to several container rows is never
    split across pages: resuming with prev_txid = last tx id loses no
    rows, so page concatenation equals the full per-tx listing (the
    reference endpoint pages whole DeletedBlocksTransaction records)."""
    from ozone_spark.operators import insights
    dk, locs, cts = t["deleted_keys"], t["locations"], t["containers"]
    # bound well above the fixture's tx count but small enough that the
    # limit's TakeOrderedAndProject queue stays cheap
    full = (
        insights.blocks_pending_deletion(dk, locs, cts, max_records=10_000)
        .select("tx_id", "container_id", "local_ids").collect()
    )
    got, prev = [], 0
    for _ in range(1000):
        page = insights.blocks_pending_deletion(
            dk, locs, cts, prev_txid=prev, max_records=5).collect()
        if not page:
            break
        # every tx on the page is complete: its container-row count
        # matches the full listing's
        by_tx = {}
        for r in page:
            by_tx.setdefault(r.tx_id, []).append(r)
        full_by_tx = {}
        for r in full:
            full_by_tx.setdefault(r.tx_id, []).append(r)
        for tx, rows in by_tx.items():
            assert len(rows) == len(full_by_tx[tx])
        got.extend((r.tx_id, r.container_id, r.local_ids) for r in page)
        if not page[0].is_truncated:
            break
        prev = max(r.tx_id for r in page)
    assert got == [(r.tx_id, r.container_id, r.local_ids) for r in full]


def test_paragraph_dedup_first_occurrence_rule(spark):
    """Synthetic corpus: doc 1 and doc 3 share a paragraph; the first
    occurrence (lowest doc_id, then paragraph index) survives, later
    copies drop.  Short docs (< para_words words) form one paragraph;
    exact whole-doc duplicates lose everything to the earlier doc."""
    para_a = " ".join(["alpha"] * 20)
    para_b = " ".join(["beta"] * 20)
    para_c = " ".join(["gamma"] * 20)
    docs = spark.createDataFrame(
        [(1, f"{para_a} {para_b}"),   # paras: a, b
         (2, "tiny doc"),             # one short paragraph
         (3, f"{para_c} {para_a}"),   # c kept, a drops (doc 1 had it)
         (4, f"{para_a} {para_b}")],  # exact dup of doc 1: all drop
        "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.paragraph_dedup(docs).collect()}
    assert (out[1].n_paras, out[1].n_kept) == (2, 2)
    # wordless docs produce NO paragraphs (they must not cross-dedup
    # against each other through a shared empty fingerprint)
    empty = spark.createDataFrame(
        [(10, ""), (11, "!!!"), (12, "   "), (13, "real words")],
        "doc_id long, text string")
    eout = {r.doc_id: r for r in dedup.paragraph_dedup(empty).collect()}
    assert set(eout) == {13}
    assert (eout[13].n_paras, eout[13].n_kept) == (1, 1)
    assert (out[2].n_paras, out[2].n_kept) == (1, 1)
    assert (out[3].n_paras, out[3].n_kept, out[3].n_dropped) == (2, 1, 1)
    assert (out[4].n_paras, out[4].n_kept, out[4].frac_kept) == (2, 0, 0.0)


def test_remove_duplicate_spans_keep_first(spark):
    """Exact-copy doc: the keeper (lowest doc_id) is untouched, the later
    copy is fully removed; a doc sharing nothing keeps every token; the
    cleaned fingerprint is md5 of the surviving normalized text."""
    import hashlib

    from ozone_spark.functions.pipeline import remove_duplicate_spans
    base = " ".join(f"w{i}" for i in range(20))
    uniq = " ".join(f"u{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, base, "en", "srcA", len(base)),
         (2, base, "en", "srcB", len(base)),
         (3, uniq, "en", "srcC", len(uniq))],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = {r.doc_id: r for r in remove_duplicate_spans(docs).collect()}
    assert out[1].n_removed == 0
    assert out[1].cleaned_fp == hashlib.md5(base.encode()).hexdigest()
    assert out[2].n_removed == out[2].n_tokens == 20
    assert out[2].cleaned_fp == hashlib.md5(b"").hexdigest()
    assert out[2].frac_removed == 1.0
    assert out[3].n_removed == 0
    assert out[3].cleaned_fp == hashlib.md5(uniq.encode()).hexdigest()


def test_payload_chunks_tile_payload(spark, sf_dir):
    """Content-defined chunk spans tile each payload exactly:
    chunk_idx-ordered, contiguous, non-empty, summing to payload_len —
    so dedup over chunk fingerprints covers every byte."""
    from ozone_spark.functions import multimodal
    med = multimodal.as_media_table(
        tables.load_table(spark, sf_dir, "documents").limit(50))
    spans: dict[int, list] = {}
    for r in multimodal.payload_chunks(med).collect():
        spans.setdefault(r.doc_id, []).append((r.chunk_idx, r.lo, r.chunk_len))
    lens = {r.doc_id: r.payload_len for r in med.collect()}
    assert set(spans) == {d for d, n in lens.items() if n > 0}
    for d, ss in spans.items():
        ss.sort()
        pos = 0
        for j, (idx, lo, ln) in enumerate(ss):
            assert idx == j and lo == pos and ln > 0
            pos += ln
        assert pos == lens[d]


def test_payload_chunk_near_dup_exact_copy_is_jaccard_one(spark, sf_dir):
    """A byte-identical payload copy shares every chunk: jaccard == 1.0
    and the pair always survives the threshold."""
    from ozone_spark.functions import multimodal
    docs = tables.load_table(spark, sf_dir, "documents").limit(30)
    copy = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 700000)
    med = multimodal.as_media_table(docs.unionByName(copy))
    orig_id = copy.collect()[0].doc_id - 700000
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in multimodal.payload_chunk_near_dup(med).collect()}
    assert pairs[(orig_id, orig_id + 700000)] == 1.0


def test_perplexity_buckets_balanced_and_ordered(spark, sf_dir):
    """Per language: tercile sizes differ by at most 1, and bucket
    cross-entropy ranges are ordered head <= middle <= tail AT THE
    TILING GRANULARITY — the ntile orders by the coarse 3-decimal grid
    (ADVICE r4: float-tie hardening), so two docs inside one grid cell
    tile by doc_id and their 6-decimal scores may interleave."""
    from collections import Counter

    from ozone_spark.functions.mining import perplexity_buckets
    rows = perplexity_buckets(
        tables.load_table(spark, sf_dir, "documents")).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        c = Counter(r.bucket for r in rs)
        counts = [c.get(b, 0) for b in ("head", "middle", "tail")]
        assert max(counts) - min(counts) <= 1
        xent = {b: [round(r.cross_entropy_bits, 3) for r in rs
                    if r.bucket == b] for b in c}
        if "head" in xent and "middle" in xent:
            assert max(xent["head"]) <= min(xent["middle"])
        if "middle" in xent and "tail" in xent:
            assert max(xent["middle"]) <= min(xent["tail"])


def test_streaming_attribution_equals_batch_join(spark, sf_dir):
    """AvailableNow drain of the stream-stream interval join equals the
    batch inequality join over the same events."""
    import tempfile

    from ozone_spark.streaming import windows as swin
    stream = swin.read_events_stream(spark, f"{sf_dir}/events.parquet")
    got = swin.drain_to_memory(
        swin.streaming_attribution(stream), spark, "t_attr_inv",
        tempfile.mkdtemp(prefix="ozs_ckpt_"), output_mode="append")
    ev = tables.load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"))
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"))
    want = (
        v.join(c, (F.col("user_id") == F.col("cu"))
               & (F.col("click_ts") >= F.col("view_ts"))
               & (F.col("click_ts") <= F.col("view_ts")
                  + F.expr("INTERVAL 30 MINUTES")))
        .select("user_id", "view_event_id", "click_event_id",
                (F.unix_micros("click_ts") - F.unix_micros("view_ts"))
                .alias("gap_us"))
    )
    key = lambda r: (r.user_id, r.view_event_id, r.click_event_id, r.gap_us)
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_tree_distance_generalized_topology(spark):
    """Round-4 VERDICT #7: topology distance is the reference's
    generalized tree walk (NetworkTopologyImpl.java:717) over a
    topology-path column — 3-level dc/rack/node costs 2/4/6, not the
    old 2-tier 0/2 collapse — and handles unequal depths the way the
    reference's level-equalising climb does."""
    from ozone_spark.operators.datapath import (topology_sorted_replicas,
                                                tree_distance)

    client = "/dc0/rack0/client"
    cases = [
        ("/dc0/rack0/client", 0),   # same node
        ("/dc0/rack0/dn0", 2),      # same rack
        ("/dc0/rack1/dn1", 4),      # same dc, other rack
        ("/dc1/rack0/dn4", 6),      # other dc (rack NAME reuse != same rack)
        ("/dc0/rack0/host/dn9", 3),  # deeper leaf: 1 up + 2 up to LCA
        ("/rack9/dn9", 5),          # shallower leaf: 2 up + 3 up, no LCA
    ]
    df = spark.createDataFrame([(p,) for p, _ in cases], ["p"])
    got = {r.p: r.d for r in df.select(
        "p", tree_distance(F.lit(client), F.col("p")).alias("d")).collect()}
    assert got == {p: d for p, d in cases}

    # the fixture gate path: every fixture dn is depth-3, so read_order
    # must rank same-rack (2) < same-dc (4) < cross-dc (6)
    v = tables.datanodes_view(spark)
    reps = tables.replicas_view(spark)
    out = topology_sorted_replicas(reps, v).collect()
    assert {r.distance for r in out} == {2, 4, 6}
    for cid in {r.container_id for r in out}:
        rows = sorted([r for r in out if r.container_id == cid],
                      key=lambda r: r.read_order)
        assert [r.distance for r in rows] == sorted(r.distance for r in rows)


def test_event_funnel_monotone(spark, sf_dir):
    """Funnel invariants: user counts are non-increasing down the
    steps, conversions are in (0, 1], and step 1 converts at 1.0."""
    from ozone_spark.operators.events import event_funnel
    rows = sorted(event_funnel(
        tables.load_table(spark, sf_dir, "events")).collect(),
        key=lambda r: r.step_idx)
    assert [r.step for r in rows] == ["view", "click", "purchase"]
    ns = [r.n_users for r in rows]
    assert ns == sorted(ns, reverse=True) and ns[-1] > 0
    assert rows[0].conv_from_prev == rows[0].conv_from_top == 1.0
    for r in rows:
        assert 0 < r.conv_from_prev <= 1 and 0 < r.conv_from_top <= 1


def test_cohort_retention_invariants(spark, sf_dir):
    """Cohort invariants: offset-0 retention is 1.0 for every cohort
    (a user is active the week of their first event by definition),
    retention is in (0, 1], n_active <= cohort_size, and per-cohort
    active counts sum to the distinct (user, week) activity total."""
    from ozone_spark.operators.events import cohort_retention
    ev = tables.load_table(spark, sf_dir, "events")
    rows = cohort_retention(ev).collect()
    assert rows, "no cohorts"
    for r in rows:
        assert 0 < r.retention <= 1.0
        assert r.n_active <= r.cohort_size
        if r.week_offset == 0:
            assert r.retention == 1.0
    total = ev.select("user_id", F.date_trunc("week", "ts").alias("w")) \
        .distinct().count()
    assert sum(r.n_active for r in rows) == total


def test_path_transitions_probabilities_sum_to_one(spark, sf_dir):
    """Per source type, the outgoing transition probabilities sum to
    ~1 and the transition counts sum to n_events - n_users (each
    user's first event has no predecessor)."""
    from ozone_spark.operators.events import path_transitions
    ev = tables.load_table(spark, sf_dir, "events")
    rows = path_transitions(ev).collect()
    by_src: dict[str, float] = {}
    n_trans = 0
    for r in rows:
        by_src[r.prev_type] = by_src.get(r.prev_type, 0.0) + r.p_next
        n_trans += r.n_trans
    for src, p in by_src.items():
        assert abs(p - 1.0) < 1e-4, (src, p)
    expect = ev.count() - ev.select("user_id").distinct().count()
    assert n_trans == expect


def test_minhash_recall_bounds(spark, sf_dir):
    """The eval harness's own sanity: counts are consistent (hits
    bounded by both sides) and recall/precision are in [0, 1]."""
    from ozone_spark.functions.dedup import minhash_recall
    docs = tables.load_table(spark, sf_dir, "documents")
    r = minhash_recall(docs).collect()[0]
    assert r.n_hit <= r.n_truth and r.n_hit <= r.n_cand
    assert r.recall_ppm == (r.n_hit * 1_000_000) // r.n_truth
    assert r.precision_ppm == (r.n_hit * 1_000_000) // r.n_cand
    assert 0 <= r.recall_ppm <= 1_000_000
    assert 0 <= r.precision_ppm <= 1_000_000


def test_cluster_size_stats_accounts_every_member(spark, sf_dir):
    """The size histogram re-aggregates the exact membership table:
    sum(n_docs) == |duplicate_clusters| rows and every cluster size
    is >= 2 (singletons are not clusters)."""
    from ozone_spark.functions.dedup import (cluster_size_stats,
                                             duplicate_clusters)
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = cluster_size_stats(docs).collect()
    assert rows, "no clusters in fixture"
    assert all(r.cluster_size >= 2 for r in rows)
    assert sum(r.n_docs for r in rows) == duplicate_clusters(docs).count()


def test_zipf_slope_negative_and_ranks_contiguous(spark, sf_dir):
    """Zipf invariants: ranks are 1..20 with non-increasing counts and
    the fitted slope is negative (frequencies fall with rank)."""
    from ozone_spark.functions.mining import zipf_curve
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = sorted(zipf_curve(docs).collect(), key=lambda r: r.rank)
    assert [r.rank for r in rows] == list(range(1, 21))
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert rows[0].zipf_slope < 0


def test_boilerplate_paragraphs_frequency_rule(spark):
    """Synthetic corpus: a paragraph repeated across 3 docs is removed
    from ALL of them (no keeper — unlike paragraph_dedup's keep-first),
    a 2-doc paragraph survives everywhere at min_df=3, and cleaned_fp
    proves exactly which paragraphs were kept."""
    boiler = " ".join(["cookie"] * 20)
    rare = " ".join(["story"] * 20)
    docs = spark.createDataFrame(
        [(1, f"{boiler} {rare}"),
         (2, f"{boiler} {rare}"),
         (3, boiler),
         (4, " ".join(["unique"] * 20))],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup.boilerplate_paragraphs(docs, min_df=3).collect()}
    # boiler hits 3 distinct docs -> removed everywhere; rare hits 2
    assert (out[1].n_paras, out[1].n_removed) == (2, 1)
    assert (out[2].n_paras, out[2].n_removed) == (2, 1)
    assert (out[3].n_paras, out[3].n_removed, out[3].frac_kept) == (1, 1, 0.0)
    assert (out[4].n_paras, out[4].n_removed, out[4].frac_kept) == (1, 0, 1.0)
    # docs 1 and 2 keep exactly the same surviving paragraph set
    assert out[1].cleaned_fp == out[2].cleaned_fp
    assert out[1].cleaned_fp != out[3].cleaned_fp
    # doc 3 kept nothing; its cleaned_fp is md5 of the empty string
    import hashlib
    assert out[3].cleaned_fp == hashlib.md5(b"").hexdigest()


def test_quality_funnel_chain_consistency(spark, sf_dir):
    """Funnel invariants: stage 1 starts at the corpus size, each
    stage's docs_in equals the previous stage's docs_out, survivor
    counts are non-increasing, and the final stage's docs_out equals
    the count of docs passing the full Gopher conjunction."""
    from ozone_spark.functions.text import (gopher_quality_filters,
                                            quality_funnel)
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = sorted(quality_funnel(docs).collect(), key=lambda r: r.stage)
    assert rows[0].docs_in == docs.count()
    for prev, cur in zip(rows, rows[1:]):
        assert cur.docs_in == prev.docs_out
        assert cur.docs_out <= cur.docs_in
    for r in rows:
        assert r.n_dropped == r.docs_in - r.docs_out
    full = gopher_quality_filters(docs).where(F.col("passes_gopher")).count()
    assert rows[-1].docs_out == full


def test_embedding_outliers_topk_per_label(spark, sf_dir):
    """Top-k outlier invariants: exactly k rows per label with ranks
    1..k, distances non-increasing within a label, and the rank-1
    outlier at or above the label's mean squared distance (ratio >= 1)."""
    from ozone_spark.functions.similarity import embedding_outliers
    emb = tables.load_table(spark, sf_dir, "embeddings")
    rows = embedding_outliers(emb, k=3).collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r)
    n_labels = emb.select("label").distinct().count()
    assert len(by_label) == n_labels
    for label, rs in by_label.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3]
        dists = [r.dist_sq_q for r in rs]
        assert dists == sorted(dists, reverse=True)
        assert rs[0].dist_ratio >= 1.0  # the max is never below the mean


def test_ivf_recall_bounds(spark, sf_dir):
    """Recall rows are one per query with n_truth == k and recall in
    [0, 1]; n_hit never exceeds n_truth."""
    from ozone_spark.functions.similarity import ivf_recall
    emb = tables.load_table(spark, sf_dir, "embeddings")
    rows = ivf_recall(emb, [20, 21, 22], k=10).collect()
    assert [r.query_id for r in rows] == [20, 21, 22]
    for r in rows:
        assert r.n_truth == 10
        assert 0 <= r.n_hit <= r.n_truth
        assert r.recall_ppm == (r.n_hit * 1_000_000) // r.n_truth


def test_suggest_band_bits_scales_and_join_stays_correct(spark, sf_dir):
    """The band-width law actually CHANGES with corpus size (VERDICT r5
    item 9: previously only pinned by fixture-size asserts) and the
    banded candidate join stays correct at both widths: on a 16x-tiled
    corpus (every original vector duplicated under 15 higher ids) the
    auto-sized semantic_dedup must drop EVERY copy — an exact twin
    shares its original's cluster and every band signature, so the
    equi-join is guaranteed to surface it regardless of band width."""
    from ozone_spark.functions.similarity import (NEAR_DUP_BAND_BITS,
                                                  semantic_dedup,
                                                  suggest_band_bits)
    emb = tables.load_table(spark, sf_dir, "embeddings")
    n0 = emb.count()
    bits_small, bits_big = suggest_band_bits(n0), suggest_band_bits(16 * n0)
    assert bits_small == NEAR_DUP_BAND_BITS
    assert bits_big > bits_small  # the law responds to n
    tiles = [emb.select((F.col("vec_id") + k * n0).alias("vec_id"),
                        "embedding", "label") for k in range(16)]
    big = tiles[0]
    for t in tiles[1:]:
        big = big.unionByName(t)
    out = semantic_dedup(big)  # auto band_bits -> suggest(16 * n0)
    assert out.count() == 16 * n0
    copies = out.where(F.col("vec_id") >= n0)
    assert copies.where(F.col("is_kept")).count() == 0
    # the small corpus at its own auto width keeps at least its keepers
    kept_small = semantic_dedup(emb).where(F.col("is_kept")).count()
    assert 0 < kept_small <= n0


def test_lsh_bucket_stats_partition_of_buckets(spark, sf_dir):
    """Each band's buckets partition into singleton/pairable/saturated;
    per-band member totals equal the signature row count (every doc
    lands in exactly one bucket per band)."""
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = dedup.lsh_bucket_stats(docs).collect()
    assert [r.band for r in rows] == list(range(8))
    n_sigs = dedup.minhash_signatures(docs).count()
    for r in rows:
        assert r.n_buckets == r.n_singleton + r.n_pairable + r.n_saturated
        assert r.max_bucket_sz >= 1
        assert r.pair_candidates >= r.n_pairable  # C(sz,2) >= 1 each
    # no saturation at fixture scale: singleton + pair members = docs
    for r in rows:
        assert r.docs_in_saturated == 0


def test_daily_anomalies_flags_spike_only(spark):
    """Synthetic series: 9 flat days + one 10x spike per type — the
    spike is flagged, flat days are not (MAD is immune to the spike)."""
    from ozone_spark.operators.events import daily_anomalies
    rows = []
    for d in range(1, 10):
        rows += [("click", f"2024-01-0{d} 00:00:0{i}", 1.0)
                 for i in range(3)]
    rows += [("click", f"2024-01-10 00:00:{i:02d}", 1.0)
             for i in range(30)]
    events = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"),
             "value")
    out = {r.day: r for r in daily_anomalies(events).collect()}
    assert len(out) == 10
    assert out["2024-01-10"].is_anomaly
    assert not any(r.is_anomaly for d, r in out.items() if d != "2024-01-10")
    assert out["2024-01-10"].med == 3.0 and out["2024-01-10"].mad == 0.0


def test_table_profile_exact_smallcard_and_counts(spark, sf_dir):
    """Profile invariants: every column reports the same n_rows; a
    column with < k distinct values gets kmv_estimate == exact count;
    min/max bracket the domain lexicographically."""
    from ozone_spark.functions.sketch import table_profile
    li = tables.load_table(spark, sf_dir, "lineitem")
    rows = {r.col_name: r for r in table_profile(
        li, ["l_orderkey", "l_returnflag", "l_linestatus"]).collect()}
    n = li.count()
    assert all(r.n_rows == n for r in rows.values())
    assert all(r.n_nulls == 0 for r in rows.values())
    rf = rows["l_returnflag"]
    assert rf.n_distinct <= 3
    assert rf.kmv_estimate == float(rf.n_distinct)  # < k: exact fallback
    assert rf.min_val <= rf.max_val
    ok = rows["l_orderkey"]
    exact = li.select("l_orderkey").distinct().count()
    assert ok.n_distinct == exact
    # KMV relative error ~ 1/sqrt(k-2) ≈ 6%; allow 4 sigma
    assert abs(ok.kmv_estimate - exact) / exact < 0.25


def test_containment_catches_asymmetric_dup(spark):
    """A short doc quoted verbatim inside a much longer one: containment
    == 1.0 while Jaccard stays small — the pair Jaccard-thresholded
    dedup misses by construction."""
    quote = " ".join(f"q{i}" for i in range(12))
    filler = " ".join(f"w{i}" for i in range(300))
    docs = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote}"), (3, "other text entirely")],
        "doc_id long, text string")
    rows = dedup.containment_pairs(docs, threshold=0.8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.containment == 1.0
    assert r.jaccard < 0.1


def test_growth_curve_totals_and_monotonicity(spark, sf_dir):
    """Curve invariants: buckets partition the corpus (sum n_docs ==
    corpus size), cumulative columns are running sums, n_new never
    exceeds n_docs, and the final cum_new equals the corpus's distinct
    fingerprint count."""
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = sorted(dedup.growth_curve(docs).collect(),
                  key=lambda r: r.bucket)
    assert sum(r.n_docs for r in rows) == docs.count()
    cum_d = cum_n = 0
    for r in rows:
        cum_d += r.n_docs
        cum_n += r.n_new
        assert (r.cum_docs, r.cum_new) == (cum_d, cum_n)
        assert 0 <= r.n_new <= r.n_docs
    distinct = docs.select(
        F.md5(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""))
    ).distinct().count()
    assert rows[-1].cum_new == distinct


def test_stickiness_bounds_and_window(spark):
    """Synthetic check: a user active daily gives stickiness 1.0 while
    a once-a-week user dilutes it; WAU counts a user for exactly
    window_days trailing days."""
    from ozone_spark.operators.events import stickiness
    rows = [("u1", f"2024-03-{d:02d} 10:00:00") for d in range(1, 15)]
    rows.append(("u2", "2024-03-08 12:00:00"))
    events = spark.createDataFrame(
        rows, "user_id string, ts_s string"
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
    out = {r.day: r for r in stickiness(events).collect()}
    # day 7: only u1 active in trailing week -> 1/1
    assert (out["2024-03-07"].dau, out["2024-03-07"].wau) == (1, 1)
    assert out["2024-03-07"].stickiness == 1.0
    # days 8..14: u2's one visit stays in the trailing window
    for d in range(8, 15):
        assert out[f"2024-03-{d:02d}"].wau == 2
    assert out["2024-03-08"].dau == 2
    assert out["2024-03-09"].dau == 1
    assert out["2024-03-09"].stickiness == 0.5
    # u2 ages out after day 14 (no day-15 DAU row exists to check, but
    # every reported ratio stays in (0, 1])
    assert all(0 < r.stickiness <= 1.0 for r in out.values())


def test_kmv_source_overlap_accuracy_vs_exact(spark, sf_dir):
    """Sketch-algebra accuracy: per-pair KMV Jaccard tracks the exact
    bigram Jaccard within the estimator's error budget, and the set
    identities hold (union >= each side's estimate within rounding,
    intersection >= 0, jaccard in [0, 1])."""
    from ozone_spark.functions.sketch import kmv_source_overlap
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = kmv_source_overlap(docs).collect()
    assert rows, "no source pairs"
    for r in rows:
        assert r.union_est >= max(r.est_a, r.est_b) * 0.75
        assert r.inter_est >= 0
        assert 0 <= r.jaccard_est <= 1
    # exact bigram jaccard for the first pair, computed independently
    r0 = rows[0]
    w = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(w)
    grams = F.when(
        n >= 2,
        F.zip_with(F.slice(w, F.lit(1), n - 1), F.slice(w, F.lit(2), n - 1),
                   lambda a, b: F.concat_ws(" ", a, b)),
    ).otherwise(F.array().cast("array<string>"))
    gsets = {
        src: {g[0] for g in docs.where(F.col("source") == src)
              .select(F.explode(grams).alias("g")).distinct().collect()}
        for src in (r0.src_a, r0.src_b)}
    sa, sb = gsets[r0.src_a], gsets[r0.src_b]
    exact_j = len(sa & sb) / len(sa | sb)
    # KMV rel-err ~ 1/sqrt(k-2) ~ 6% per estimate; inclusion-exclusion
    # compounds three of them — allow a wide but meaningful band
    assert abs(r0.jaccard_est - exact_j) < 0.15


def test_label_agreement_totals(spark, sf_dir):
    """Agreement report partitions: n_agree + disagreements == n_docs;
    per-source totals sum to the corpus; rates in [0, 1]."""
    from ozone_spark.functions.text import label_agreement
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = label_agreement(docs).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r.n_agree <= r.n_docs
        assert 0 <= r.n_undecided <= r.n_docs
        assert 0 <= r.agree_rate <= 1


def test_frequent_ngrams_rank_and_df(spark):
    """A shared 8-gram ranks first with df == number of docs carrying
    it; unique n-grams trail with df 1."""
    shared = " ".join(f"s{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, f"{shared} one extra words here now ok fine"),
         (2, f"prefix tokens {shared}"),
         (3, f"{shared}"),
         (4, "totally different text with eight plus words in it")],
        "doc_id long, text string")
    rows = dedup.frequent_ngrams(docs, n=8, k=5).collect()
    assert rows[0].ngram == shared and rows[0].df == 3
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    dfs = [r.df for r in rows]
    assert dfs == sorted(dfs, reverse=True)


def test_pq_reconstruction_consistency_with_codes(spark, sf_dir):
    """Report totals equal the sum of pq_codes' per-subspace errors and
    label vector counts partition the corpus."""
    from ozone_spark.functions.similarity import (PQ_M,
                                                  pq_reconstruction_report)
    from ozone_spark.functions.similarity import pq_codes
    emb = tables.load_table(spark, sf_dir, "embeddings")
    rows = pq_reconstruction_report(emb).collect()
    assert sum(r.n_vecs for r in rows) == emb.count()
    total = sum(r.total_err for r in rows)
    codes_total = pq_codes(emb).agg(F.sum("dist_sq")).collect()[0][0]
    assert total == codes_total
    for r in rows:
        assert abs(r.avg_err_per_sub - r.total_err / (r.n_vecs * PQ_M)) < 1e-3


def test_ivf_list_balance_partition(spark, sf_dir):
    """List sizes partition the corpus; shares sum to ~1; skew is share
    renormalized by the centroid count."""
    from ozone_spark.functions.similarity import ivf_list_balance
    emb = tables.load_table(spark, sf_dir, "embeddings")
    rows = ivf_list_balance(emb).collect()
    assert sum(r.n_vecs for r in rows) == emb.count()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert abs(r.skew - r.share * len(rows)) < 1e-2


def test_session_distribution_consistency(spark, sf_dir):
    """The one-row summary agrees with the session table it summarizes:
    counts, maxima, and percentile ordering p50 <= p90 <= p99 <= max."""
    from ozone_spark.operators.events import (session_distribution,
                                              sessionize)
    events = tables.load_table(spark, sf_dir, "events")
    r = session_distribution(events).collect()[0]
    sess = sessionize(events)
    assert r.n_sessions == sess.count()
    mx = sess.agg(F.max("n_events"), F.max("duration_s")).collect()[0]
    assert (r.max_events, r.max_duration_s) == (mx[0], mx[1])
    assert r.p50_events <= r.p90_events <= r.p99_events <= r.max_events
    assert (r.p50_duration_s <= r.p90_duration_s
            <= r.p99_duration_s <= r.max_duration_s)


def test_order_ship_latency_bounds(spark, sf_dir):
    """Latency rows cover every priority present in orders that have
    lineitems; percentiles are ordered and non-negative day counts."""
    from ozone_spark.operators.tpch import order_ship_latency
    orders = tables.load_table(spark, sf_dir, "orders")
    lineitem = tables.load_table(spark, sf_dir, "lineitem")
    rows = order_ship_latency(orders, lineitem).collect()
    assert sum(r.n_items for r in rows) == lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey).count()
    for r in rows:
        assert r.p50_days <= r.p90_days <= r.p99_days <= r.max_days


def test_split_leakage_detects_planted_leak(spark):
    """A duplicated text whose copies land in different splits is
    reported as a leak row; the split assignment matches
    training_shards' rule doc-for-doc."""
    from ozone_spark.functions.pipeline import split_leakage, training_shards
    # find doc_ids that training_shards assigns to different splits
    ids = spark.createDataFrame(
        [(i, f"text {i}") for i in range(400)], "doc_id long, text string")
    assigned = {r.doc_id: r.split
                for r in training_shards(ids).collect()}
    val_id = next(i for i, s in assigned.items() if s == "val")
    train_id = next(i for i, s in assigned.items() if s == "train")
    docs = spark.createDataFrame(
        [(train_id, "identical leaked text"),
         (val_id, "identical leaked text"),
         (next(i for i, s in assigned.items()
               if s == "train" and i != train_id), "clean text")],
        "doc_id long, text string")
    rows = {r.split_set: r for r in split_leakage(docs).collect()}
    assert rows["train+val"].is_leak
    assert rows["train+val"].n_fingerprints == 1
    assert rows["train+val"].n_docs == 2
    assert not rows["train"].is_leak


def test_ewma_forecast_recurrence(spark):
    """EWMA replays the s_t = (s_{t-1} + x_t)/2 recurrence exactly and
    the backtest MAE matches a hand computation."""
    from ozone_spark.operators.events import ewma_forecast
    counts = [4, 8, 2, 6]  # one event-type, 4 days, counts via rows
    rows = []
    for d, c in enumerate(counts, start=1):
        rows += [("click", f"2024-02-{d:02d} 00:00:{i:02d}") for i in range(c)]
    events = spark.createDataFrame(
        rows, "event_type string, ts_s string"
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    r = ewma_forecast(events).collect()[0]
    s = float(counts[0])
    preds = []
    for x in counts[1:]:
        preds.append(s)
        s = (s + x) / 2
    # preds are one-step-ahead predictions for days 2..n
    expected_mae = sum(abs(p - x) for p, x in
                       zip(preds, counts[1:])) / len(preds)
    assert r.n_days == 4
    assert r.ewma_forecast == round(s, 6)
    assert r.backtest_mae == round(expected_mae, 6)


def test_ewma_forecast_single_day_type(spark):
    """A type with ONE active day must not crash the query (ADVICE r5:
    unguarded F.sequence(2, 1) descends and slices negatively): its
    forecast is that day's count and its MAE is null; multi-day types
    in the same frame still backtest normally."""
    from ozone_spark.operators.events import ewma_forecast
    rows = [("new_type", "2024-02-01 00:00:00")]
    rows += [("old_type", f"2024-02-{d:02d} 00:00:{i:02d}")
             for d in (1, 2) for i in range(3)]
    events = spark.createDataFrame(
        rows, "event_type string, ts_s string"
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    out = {r.event_type: r for r in ewma_forecast(events).collect()}
    assert out["new_type"].n_days == 1
    assert out["new_type"].ewma_forecast == 1.0
    assert out["new_type"].backtest_mae is None
    assert out["old_type"].n_days == 2
    assert out["old_type"].backtest_mae is not None


def test_event_funnel_empty_step_rows(spark):
    """A step no user reaches still emits a row with n_users=0 (ADVICE
    r5: the empty aggregate must not vanish from the union), and
    conversions divide-by-zero to null, not NaN."""
    from ozone_spark.operators.events import event_funnel
    events = spark.createDataFrame(
        [(1, "view", "2024-02-01 00:00:00"),
         (2, "view", "2024-02-01 00:00:01")],
        "user_id long, event_type string, ts_s string"
    ).select("user_id", "event_type",
             F.col("ts_s").cast("timestamp").alias("ts"))
    rows = sorted(event_funnel(events).collect(), key=lambda r: r.step_idx)
    assert [r.step for r in rows] == ["view", "click", "purchase"]
    assert [r.n_users for r in rows] == [2, 0, 0]
    # step 2: 0/2 = 0.0; step 3: 0/0 -> null (never NaN)
    assert rows[1].conv_from_prev == 0.0
    assert rows[2].conv_from_prev is None
    assert rows[2].conv_from_top == 0.0


def test_approx_group_counts_ht_identity(spark, sf_dir):
    """HT estimate == sampled/rate exactly; sample is a subset of the
    group; at rate=1.0 the estimate IS the exact count."""
    from ozone_spark.functions.pipeline import approx_group_counts
    docs = tables.load_table(spark, sf_dir, "documents")
    for r in approx_group_counts(docs, rate=0.1).collect():
        assert 0 <= r.sampled_docs <= r.exact_docs
        assert r.ht_estimate == round(r.sampled_docs / 0.1, 4)
    for r in approx_group_counts(docs, rate=1.0).collect():
        assert r.sampled_docs == r.exact_docs
        assert r.rel_err == 0.0


def test_bpe_merge_candidates_hand_count(spark):
    """Pair counts replay the classical BPE formulation: frequency-
    weighted with within-word multiplicity ('aaa' -> 'aa' twice)."""
    from ozone_spark.functions.mining import bpe_merge_candidates
    docs = spark.createDataFrame(
        [(1, "aaa ab"), (2, "aaa aaa"), (3, "ab")],
        "doc_id long, text string")
    rows = {r.pair: r for r in bpe_merge_candidates(docs, k=10).collect()}
    # vocab: aaa freq 3 (2 pairs 'aa' each), ab freq 2 (1 pair)
    assert rows["aa"].total_count == 6 and rows["aa"].n_words == 1
    assert rows["ab"].total_count == 2 and rows["ab"].n_words == 1
    assert rows["aa"].rank == 1


def test_bpe_train_learns_expected_merges(spark):
    """Hand-checked merge sequence: corpus of 'abab' x3 and 'ab' x2
    learns (a,b) first (count 8: two per 'abab' occurrence + one per
    'ab'), then (ab,ab) inside 'abab' (count 3)."""
    from ozone_spark.functions.mining import bpe_train
    docs = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "abab ab")],
        "doc_id long, text string")
    rows = sorted(bpe_train(docs, n_merges=2).collect(),
                  key=lambda r: r.merge_round)
    assert (rows[0].pair, rows[0].new_symbol, rows[0].total_count) \
        == ("a|b", "ab", 8)
    assert (rows[1].pair, rows[1].new_symbol, rows[1].total_count) \
        == ("ab|ab", "abab", 3)


def test_bpe_encode_stats_compression_monotone(spark, sf_dir):
    """Encoding invariants: tokens never exceed chars (merges only
    shrink), fertility >= 1 symbol per word never — actually tokens >=
    words is NOT guaranteed after many merges, but tokens <= chars and
    totals partition the corpus; more merges never increase tokens."""
    from ozone_spark.functions.mining import bpe_encode_stats
    docs = tables.load_table(spark, sf_dir, "documents")
    r4 = {r.lang: r for r in bpe_encode_stats(docs, n_merges=4).collect()}
    r8 = {r.lang: r for r in bpe_encode_stats(docs, n_merges=8).collect()}
    assert set(r4) == set(r8)
    for lang in r4:
        assert r4[lang].total_tokens <= r4[lang].total_chars
        assert r8[lang].total_tokens <= r4[lang].total_tokens
        assert r4[lang].total_words == r8[lang].total_words
        assert r4[lang].total_chars == r8[lang].total_chars


def test_bpe_train_rounds_scale_linearly(spark, sf_dir):
    """The per-round localCheckpoint keeps training LINEAR in merge
    rounds (VERDICT r5 item 8).  Asserted on a LOAD-INSENSITIVE proxy
    (ADVICE r6 — the previous wall-clock ratio could flake on a busy
    machine): the number of Spark JOBS launched per training run.  The
    eager per-round checkpoint submits a bounded number of jobs per
    merge round, so jobs grow linearly in n_merges; if the checkpoint
    is removed, evaluation collapses into one lazy job whose stage DAG
    replays every prefix quadratically — the job-count signature
    vanishes and this test fails without any timing involved.  Also
    asserts the 24-merge table is well-formed: 24 distinct rounds,
    every new_symbol the concatenation of its pair."""
    from ozone_spark.functions.mining import bpe_train
    docs = tables.load_table(spark, sf_dir, "documents")
    tracker = spark.sparkContext.statusTracker()
    bpe_train(docs, n_merges=2).collect()  # warm codegen/shuffle paths

    def jobs_for(n_merges: int):
        before = set(tracker.getJobIdsForGroup(None))
        rows = bpe_train(docs, n_merges=n_merges).collect()
        return len(set(tracker.getJobIdsForGroup(None)) - before), rows

    j8, _ = jobs_for(8)
    j24, rows = jobs_for(24)
    assert [r.merge_round for r in rows] == list(range(1, 25))
    for r in rows:
        a, b = r.pair.split("|")
        assert r.new_symbol == a + b and r.total_count > 0
    # linear regime: jobs scale ~3x with 3x the rounds (allow fixed
    # per-run overhead); a de-checkpointed lazy run submits O(1) jobs
    # for either width, breaking the lower bound
    assert j8 >= 8, f"expected >=1 job per merge round, got {j8}"
    assert 2 * j8 <= j24 <= 4 * j8 + 8, (
        f"job growth not linear in rounds: 8 merges -> {j8} jobs, "
        f"24 merges -> {j24} jobs")


def test_simhash_recall_bounds_and_truth_consistency(spark, sf_dir):
    """Recall row is consistent: n_found <= n_truth, recall = ratio,
    and the truth count matches an independent computation of Hamming
    <= 8 pairs over the same deterministic sample."""
    from ozone_spark.functions.dedup import (SIMRECALL_SALT,
                                             SIMRECALL_SAMPLE_N, hash28,
                                             simhash_recall,
                                             simhash_signatures)
    docs = tables.load_table(spark, sf_dir, "documents")
    r = simhash_recall(docs).collect()[0]
    assert 0 <= r.n_found <= r.n_truth
    assert r.recall_ppm == (r.n_found * 1_000_000) // r.n_truth
    key = hash28(F.concat_ws(":", F.lit(SIMRECALL_SALT),
                             F.col("doc_id").cast("string")))
    sigs = {row.doc_id: row.simhash
            for row in simhash_signatures(docs)
            .withColumn("_sk", key)
            .orderBy(F.asc("_sk"), F.asc("doc_id"))
            .limit(SIMRECALL_SAMPLE_N).collect()}
    assert len(sigs) == SIMRECALL_SAMPLE_N
    ids = sorted(sigs)
    n_truth = sum(1 for i, a in enumerate(ids) for b in ids[i + 1:]
                  if bin(sigs[a] ^ sigs[b]).count("1") <= 8)
    assert r.n_truth == n_truth


def test_funnel_latency_consistency(spark, sf_dir):
    """Latency rows agree with the funnel's user counts (same cascade),
    deltas are non-negative, and the exact order statistics are ordered
    min <= median <= p90 <= max."""
    from ozone_spark.operators.events import event_funnel, funnel_latency
    events = tables.load_table(spark, sf_dir, "events")
    lat = {r.step_idx: r for r in funnel_latency(events).collect()}
    fun = {r.step_idx: r for r in event_funnel(events).collect()}
    assert set(lat) == {2, 3}
    assert lat[2].transition == "view->click"
    assert lat[3].transition == "click->purchase"
    for i in (2, 3):
        assert lat[i].n_users == fun[i].n_users
        assert 0 <= lat[i].min_s <= lat[i].median_s
        assert lat[i].median_s <= lat[i].p90_s <= lat[i].max_s
    # fewer than two steps is a contract error, not an AttributeError
    # deep in the plan (ADVICE r6)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="2 steps"):
        funnel_latency(events, steps=("view",))


def test_power_users_exact_ranking_and_share(spark, sf_dir):
    """Top-20 heavy hitters: volume-descending with user_id tiebreak,
    and each share_ppm is the exact integer formula vs the corpus
    total."""
    from ozone_spark.operators.events import power_users
    events = tables.load_table(spark, sf_dir, "events")
    total = events.count()
    rows = power_users(events).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    key = [(-r.n_events, r.user_id) for r in rows]
    assert key == sorted(key)
    for r in rows:
        assert r.share_ppm == (r.n_events * 1_000_000) // total
        assert 1 <= r.n_active_days and 1 <= r.n_types


def test_source_length_drift_bounds_and_totals(spark, sf_dir):
    """TV distance is a [0, 1e6] ppm per source; per-source doc counts
    partition the corpus; a source whose histogram IS the corpus
    histogram scores 0 (checked on a single-source frame)."""
    from ozone_spark.functions.text import source_length_drift
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = source_length_drift(docs).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert 0 <= r.tv_ppm <= 1_000_000 and r.n_bins_active >= 1
    one = source_length_drift(
        docs.withColumn("source", F.lit("only"))).collect()
    assert len(one) == 1 and one[0].tv_ppm == 0


def test_reading_ease_ppm_identities(spark, sf_dir):
    """The ppm ratios are exactly the floor divisions of the emitted
    integer totals, and syllables never exceed characters."""
    from ozone_spark.functions.text import reading_ease
    docs = tables.load_table(spark, sf_dir, "documents")
    for r in reading_ease(docs).collect():
        if r.total_sentences > 0:
            assert r.words_per_sentence_ppm == \
                (r.total_words * 1_000_000) // r.total_sentences
        else:
            assert r.words_per_sentence_ppm is None
        if r.total_words > 0:
            assert r.syllables_per_word_ppm == \
                (r.total_syllables * 1_000_000) // r.total_words
        else:
            assert r.syllables_per_word_ppm is None
        assert 0 <= r.total_syllables


def test_ngram_novelty_first_bucket_all_new(spark, sf_dir):
    """Bucket 0 is 100% novel by definition; cumulative novelty is
    monotone; per-bucket new never exceeds per-bucket distinct."""
    from ozone_spark.functions.dedup import ngram_novelty_curve
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = sorted(ngram_novelty_curve(docs).collect(),
                  key=lambda r: r.bucket)
    assert rows[0].novelty_ppm == 1_000_000
    assert rows[0].n_new == rows[0].n_distinct
    cums = [r.cum_new for r in rows]
    assert cums == sorted(cums)
    for r in rows:
        assert 0 <= r.n_new <= r.n_distinct


def test_dim_truncation_fidelity_bounds(spark, sf_dir):
    """One row per query, n_truth == k, hits bounded, ppm identity
    holds, and truncating to the FULL width gives perfect recall."""
    from ozone_spark.functions.similarity import dim_truncation_fidelity
    emb = tables.load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    rows = dim_truncation_fidelity(emb).collect()
    assert [r.query_id for r in rows] == [30, 31, 32]
    for r in rows:
        assert r.n_truth == 10 and 0 <= r.n_hit <= 10
        assert r.recall_ppm == (r.n_hit * 1_000_000) // r.n_truth
        assert r.keep_dims == 32
    full = dim_truncation_fidelity(emb, keep_dims=dim).collect()
    assert all(r.recall_ppm == 1_000_000 for r in full)


def test_dedup_savings_accounts_all_duplicates(spark, sf_dir):
    """Per-source savings partition the corpus and reconcile with the
    exact_duplicates families: total redundant docs == sum over
    families of (n_dups - 1); ppm identity holds."""
    from ozone_spark.functions.dedup import dedup_savings, exact_duplicates
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = dedup_savings(docs).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    fam = exact_duplicates(docs).collect()
    assert sum(r.n_redundant for r in rows) == \
        sum(f.n_dups - 1 for f in fam)
    for r in rows:
        assert 0 <= r.n_redundant < r.n_docs or r.n_docs == r.n_redundant
        assert r.savings_ppm == \
            (r.redundant_chars * 1_000_000) // r.total_chars


def test_shard_balance_reconciles_with_shards(spark, sf_dir):
    """Balance rollup reconciles with the raw training_shards frame:
    per-split totals match, min <= max, imbalance ppm identity."""
    from ozone_spark.functions.pipeline import shard_balance, training_shards
    docs = tables.load_table(spark, sf_dir, "documents")
    raw = training_shards(docs).groupBy("split").agg(
        F.sum("n_tok").alias("tot"),
        F.countDistinct("shard").alias("ns"))
    raw = {r.split: r for r in raw.collect()}
    for r in shard_balance(docs).collect():
        assert r.total_tokens == raw[r.split].tot
        assert r.n_shards == raw[r.split].ns
        assert r.min_tokens <= r.max_tokens
        assert r.imbalance_ppm == \
            ((r.max_tokens - r.min_tokens) * 1_000_000) // r.max_tokens


def test_interarrival_gap_count_identity(spark, sf_dir):
    """Gap counts equal events minus distinct (user, type) streams
    (each stream of k events yields k-1 gaps); order statistics are
    ordered min <= median <= p90 <= max and non-negative."""
    from ozone_spark.operators.events import interarrival_stats
    events = tables.load_table(spark, sf_dir, "events")
    per_type_expected = {
        r.event_type: r.n - r.s for r in events.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("s")).collect()}
    for r in interarrival_stats(events).collect():
        assert r.n_gaps == per_type_expected[r.event_type]
        assert 0 <= r.min_s <= r.median_s <= r.p90_s <= r.max_s


def test_dup_graph_centrality_exact_python_replay(spark, sf_dir):
    """The damped integer propagation replays exactly in plain Python
    over the collected edge list (floor division at every step), and
    hub ordering is (score DESC, doc_id)."""
    from ozone_spark.functions.dedup import (CENTRALITY_DAMP_PPM,
                                             CENTRALITY_ITERS,
                                             dup_graph_centrality,
                                             ngram_jaccard_pairs)
    docs = tables.load_table(spark, sf_dir, "documents")
    pairs = [(r.doc_a, r.doc_b) for r in
             ngram_jaccard_pairs(docs, threshold=0.1)
             .select("doc_a", "doc_b").collect()]
    edges = pairs + [(b, a) for a, b in pairs]
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    score = {n: 1_000_000 for n in deg}
    for _ in range(CENTRALITY_ITERS):
        infl: dict[int, int] = {}
        for s, d in edges:
            infl[d] = infl.get(d, 0) + score[s] // deg[s]
        score = {n: (1_000_000 - CENTRALITY_DAMP_PPM)
                 + (CENTRALITY_DAMP_PPM * infl.get(n, 0)) // 1_000_000
                 for n in deg}
    expect = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = dup_graph_centrality(docs).collect()
    assert [(r.doc_id, r.score) for r in rows] == expect
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert r.deg == deg[r.doc_id] and r.score >= 150_000


def test_dup_graph_centrality_reps_contraction(spark, sf_dir):
    """Representative-level centrality: exact copies collapse to one
    node before the pair pass; scores fan back so every member of a
    fingerprint group carries its representative's (rep_id, deg,
    score); the propagation replays exactly in Python over the
    contracted edge list."""
    from ozone_spark.functions.dedup import (CENTRALITY_DAMP_PPM,
                                             CENTRALITY_ITERS,
                                             dup_graph_centrality_reps,
                                             ngram_jaccard_pairs)
    base = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy dog tonight",
        "a completely different sentence about training data pipelines",
        "a completely different sentence about training data corpora",
    ]
    rows = []
    did = 0
    for i, t in enumerate(base):
        for _ in range(3 if i < 2 else 1):  # first two texts have copies
            rows.append((did, t))
            did += 1
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dup_graph_centrality_reps(docs, threshold=0.1).collect()

    # python replay over the contracted graph: reps are min doc_id per
    # distinct text; pair graph over distinct texts only
    reps = {}
    for d, t in rows:
        reps.setdefault(t, []).append(d)
    rep_of = {t: min(ds) for t, ds in reps.items()}
    rep_docs = spark.createDataFrame(
        [(rep_of[t], t) for t in reps], ["doc_id", "text"])
    pairs = [(r.doc_a, r.doc_b) for r in
             ngram_jaccard_pairs(rep_docs, threshold=0.1,
                                 slot="ngram_sh_test")
             .select("doc_a", "doc_b").collect()]
    edges = pairs + [(b, a) for a, b in pairs]
    assert edges, "test corpus must produce cross-text near-dup edges"
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    score = {n: 1_000_000 for n in deg}
    for _ in range(CENTRALITY_ITERS):
        infl: dict[int, int] = {}
        for s, d in edges:
            infl[d] = infl.get(d, 0) + score[s] // deg[s]
        score = {n: (1_000_000 - CENTRALITY_DAMP_PPM)
                 + (CENTRALITY_DAMP_PPM * infl.get(n, 0)) // 1_000_000
                 for n in deg}
    # fan back: every member of a scored rep's group appears
    expect = []
    for t, ds in reps.items():
        r = rep_of[t]
        if r in score:
            for m in ds:
                expect.append((m, r, deg[r], score[r], len(ds)))
    expect.sort(key=lambda x: (-x[3], x[0]))
    got = [(r.doc_id, r.rep_id, r.deg, r.score, r.n_members) for r in out]
    assert got == expect[:20]
    assert [r.rank for r in out] == list(range(1, len(out) + 1))
    # contraction really happened: no rep node carries copy-clique
    # degree (2 distinct-text edges at most here, never intra-clique)
    assert all(r.deg <= len(reps) - 1 for r in out)


def test_quality_by_dup_degree_partitions_corpus(spark, sf_dir):
    """Buckets partition the corpus (doc counts sum to |docs|), mean
    quality is the exact integer floor mean, and degrees reconcile with
    an independent pair-count fold."""
    from collections import Counter

    from ozone_spark.functions.dedup import ngram_jaccard_pairs
    from ozone_spark.functions.pipeline import quality_by_dup_degree
    from ozone_spark.functions.text import quality_features
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = quality_by_dup_degree(docs).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    assert [r.bucket_order for r in rows] == sorted(
        r.bucket_order for r in rows)
    deg = Counter()
    for p in ngram_jaccard_pairs(docs, threshold=0.1) \
            .select("doc_a", "doc_b").collect():
        deg[p.doc_a] += 1
        deg[p.doc_b] += 1

    def bucket(d):
        return ("0" if d == 0 else "1" if d == 1 else
                "2-3" if d <= 3 else "4-7" if d <= 7 else "8+")

    q = {r.doc_id: round(r.quality_score * 1_000_000)
         for r in quality_features(docs)
         .select("doc_id", "quality_score").collect()}
    sums, ns = Counter(), Counter()
    for doc_id, qm in q.items():
        b = bucket(deg.get(doc_id, 0))
        sums[b] += qm
        ns[b] += 1
    for r in rows:
        b = r.dup_degree_bucket
        assert r.n_docs == ns[b]
        assert r.mean_quality_micro == sums[b] // ns[b]


def test_keeper_policy_audit_reconciles_with_clusters(spark, sf_dir):
    """The audit replays exactly in Python over duplicate_clusters'
    membership + per-doc quality: a cluster counts as same-pick when
    the (quality DESC, doc_id) argmax IS the min doc_id; regret is the
    exact micro-unit sum of (best − min-id member) quality."""
    from ozone_spark.functions.dedup import duplicate_clusters
    from ozone_spark.functions.pipeline import keeper_policy_audit
    from ozone_spark.functions.text import quality_features
    docs = tables.load_table(spark, sf_dir, "documents")
    audit = keeper_policy_audit(docs).collect()[0]
    q = {r.doc_id: round(r.quality_score * 1_000_000)
         for r in quality_features(docs)
         .select("doc_id", "quality_score").collect()}
    clusters: dict[int, list[int]] = {}
    for r in duplicate_clusters(docs, threshold=0.1).collect():
        clusters.setdefault(r.cluster_id, []).append(r.doc_id)
    assert all(len(ds) >= 2 for ds in clusters.values())
    same, regret = 0, 0
    for ds in clusters.values():
        minid = min(ds)
        best = min(ds, key=lambda d: (-q[d], d))
        same += best == minid
        regret += q[best] - q[minid]
    assert audit.n_clusters == len(clusters)
    assert audit.n_docs == sum(len(ds) for ds in clusters.values())
    assert audit.n_same_pick == same
    assert audit.same_pick_ppm == \
        (same * 1_000_000) // max(len(clusters), 1)
    assert audit.quality_regret_micro == regret >= 0


def test_join_key_skew_python_replay(spark, sf_dir):
    """The skew profile replays exactly in Python over per-key counts
    (exact ceil-rank order statistics off the count histogram)."""
    from collections import Counter

    from ozone_spark.functions.sketch import join_key_skew
    li = tables.load_table(spark, sf_dir, "lineitem")
    row = join_key_skew(li, "l_orderkey").collect()[0]
    counts = Counter(
        r.l_orderkey for r in li.select("l_orderkey").collect())
    per = sorted(counts.values())
    n_keys, n_rows = len(per), sum(per)
    assert (row.n_keys, row.n_rows, row.max_per_key) == \
        (n_keys, n_rows, max(per))
    assert row.p50_per_key == per[(n_keys + 1) // 2 - 1]
    assert row.p99_per_key == per[(99 * n_keys + 99) // 100 - 1]
    top10 = sum(sorted(per, reverse=True)[:10])
    assert row.top10_rows == top10
    assert row.top10_share_ppm == (top10 * 1_000_000) // n_rows


def test_near_dup_leakage_planted_pairs(spark, sf_dir):
    """Planted near-copies across splits are reported at the right
    (split_lo, split_hi) grain with exact pair and distinct-doc counts;
    same-split near-dups are NOT counted."""
    import hashlib

    from ozone_spark.functions.pipeline import (SPLIT_CUTS, SPLIT_SALT,
                                                near_dup_leakage)

    def split_of(doc_id: int) -> str:
        k = int(hashlib.md5(
            f"{SPLIT_SALT}:{doc_id}".encode()).hexdigest()[:7], 16) % 10000
        for name, cut in SPLIT_CUTS:
            if k < cut:
                return name
        return SPLIT_CUTS[-1][0]

    # find ids per split deterministically
    ids = {"train": [], "val": [], "test": []}
    i = 0
    while any(len(v) < 3 for v in ids.values()):
        ids[split_of(i)].append(i)
        i += 1
    base = "the quick brown fox jumps over the lazy dog near a river"
    rows = [
        (ids["train"][0], base + " one"),
        (ids["test"][0], base + " two"),        # train<->test near-dup
        (ids["train"][1], base + " three"),     # train<->train (ignored)
        (ids["train"][2], base + " four"),
        (ids["val"][0], "completely different text about data pipelines"
                        " and their maintenance costs forever"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.split_lo, r.split_hi): r
           for r in near_dup_leakage(docs, threshold=0.5).collect()}
    assert ("test", "train") in out
    r = out[("test", "train")]
    # train[0] pairs with test[0]; train[1]/train[2] also near-dup the
    # test doc (same base text), so 3 cross pairs, 1 test doc, 3 train
    assert r.n_pairs == 3 and r.n_docs_lo == 1 and r.n_docs_hi == 3
    # the train-train pairs must not appear anywhere
    assert all(lo != hi for lo, hi in out)


def test_embedding_batch_drift_python_replay(spark, sf_dir):
    """Per-dim drift replays exactly in numpy over the quantized
    vectors: |sum_a*n_b - sum_b*n_a| * 1e6 // (n_a*n_b*1000); the
    even/odd split of one corpus should show small (but integer-exact)
    drift on every dimension."""
    import numpy as np

    from ozone_spark.functions.similarity import (KM_QUANT,
                                                  embedding_batch_drift)
    emb = tables.load_table(spark, sf_dir, "embeddings")
    rows = embedding_batch_drift(emb).collect()
    data = emb.select("vec_id", "embedding").collect()
    qa = np.array([np.round(np.asarray(r.embedding, dtype=np.float64)
                            * KM_QUANT) for r in data if r.vec_id % 2 == 0],
                  dtype=np.int64)
    qb = np.array([np.round(np.asarray(r.embedding, dtype=np.float64)
                            * KM_QUANT) for r in data if r.vec_id % 2 == 1],
                  dtype=np.int64)
    sum_a, n_a = qa.sum(axis=0), len(qa)
    sum_b, n_b = qb.sum(axis=0), len(qb)
    assert [r.dim for r in rows] == list(range(64))
    for r in rows:
        expect = (abs(int(sum_a[r.dim]) * n_b - int(sum_b[r.dim]) * n_a)
                  * 1_000_000) // (n_a * n_b * KM_QUANT)
        assert (r.n_a, r.n_b) == (n_a, n_b)
        assert r.drift_micro == expect


def test_ivf_probe_sweep_matches_ivf_recall(spark, sf_dir):
    """The sweep's single-pass rank trick agrees with the REAL probed
    index: at n_probe = N_PROBE the sweep's recall equals ivf_recall's
    (which re-ranks actual candidates), for the same query set; recall
    is monotone non-decreasing in n_probe; and at n_probe = n_centroids
    every list is probed so recall is exactly 1e6 ppm."""
    from ozone_spark.functions.similarity import (N_PROBE,
                                                  ivf_probe_sweep,
                                                  ivf_recall,
                                                  suggest_n_centroids)
    emb = tables.load_table(spark, sf_dir, "embeddings")
    qids = [20, 21, 22]
    nc = suggest_n_centroids(emb.count())
    sweep = ivf_probe_sweep(emb, qids, max_probe=nc).collect()
    by_q: dict[int, list] = {}
    for r in sweep:
        by_q.setdefault(r.query_id, []).append(r)
    real = {r.query_id: r.recall_ppm for r in ivf_recall(emb, qids).collect()}
    assert set(by_q) == set(qids)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.n_probe)
        assert [r.n_probe for r in rows] == list(range(1, nc + 1))
        rec = [r.recall_ppm for r in rows]
        assert rec == sorted(rec), f"recall not monotone for query {q}"
        assert rec[-1] == 1_000_000, "full probe must reach recall 1.0"
        assert rows[N_PROBE - 1].recall_ppm == real[q], (
            f"sweep@{N_PROBE} disagrees with ivf_recall for query {q}")
        for r in rows:
            assert r.recall_ppm == (r.n_hit * 1_000_000) // r.n_truth


def test_sq_fidelity_bounds_and_fine_grid_identity(spark, sf_dir):
    """SQ recall rows are well-formed, and an effectively-lossless grid
    (2^40 levels — finer than float32's 24-bit mantissa, so quantization
    is the identity on float-derived doubles) retrieves the exact top-k
    in full."""
    from ozone_spark.functions.similarity import sq_quantize_fidelity
    emb = tables.load_table(spark, sf_dir, "embeddings")
    for r in sq_quantize_fidelity(emb).collect():
        assert 0 <= r.n_hit <= r.n_truth == 10
        assert r.recall_ppm == (r.n_hit * 1_000_000) // r.n_truth
        assert r.sq_levels == 127
    fine = sq_quantize_fidelity(emb, levels=1 << 40).collect()
    assert all(r.recall_ppm == 1_000_000 for r in fine)


def test_lsh_band_yield_reconciles_with_candidates(spark, sf_dir):
    """Band-yield rows: cumulative is monotone and ends at the distinct
    candidate-pair total of the SAME capped banding (recomputed
    independently), final share is exactly 1e6, and every band's new
    pairs are first-discoveries (no pair counted twice)."""
    from ozone_spark.functions.dedup import (_minhash_bands,
                                             lsh_band_yield,
                                             minhash_signatures)
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = lsh_band_yield(docs).collect()
    assert [r.band for r in rows] == list(range(8))
    cum = 0
    for r in rows:
        cum += r.n_new_pairs
        assert r.cum_pairs == cum
    # independent recount of distinct capped-bucket candidate pairs
    bands = _minhash_bands(minhash_signatures(docs)).collect()
    from collections import defaultdict
    by_bucket = defaultdict(list)
    for r in bands:
        by_bucket[(r.band, r.bucket)].append(r.doc_id)
    pairs = set()
    for (_band, _bucket), ds in by_bucket.items():
        if 2 <= len(ds) <= 200:
            ds = sorted(ds)
            for i, a in enumerate(ds):
                for b in ds[i + 1:]:
                    pairs.add((a, b))
    assert rows[-1].cum_pairs == len(pairs)
    if pairs:
        assert rows[-1].cum_share_ppm == 1_000_000


def test_context_length_coverage_identities(spark, sf_dir):
    """Coverage rows are monotone in ctx_len (longer context keeps more
    docs and tokens), kept+lost == corpus total at every length, and the
    largest candidate (8192) covers these short fixture docs fully."""
    from ozone_spark.functions.pipeline import context_length_coverage
    docs = tables.load_table(spark, sf_dir, "documents")
    total_tokens = docs.selectExpr(
        "sum(size(split(text, ' '))) AS t").collect()[0].t
    n_docs = docs.count()
    rows = context_length_coverage(docs).collect()
    assert [r.ctx_len for r in rows] == [64, 128, 256, 512, 1024,
                                         2048, 4096, 8192]
    prev_fit, prev_kept = -1, -1
    for r in rows:
        assert r.tokens_kept + r.tokens_lost == total_tokens
        assert 0 <= r.n_docs_fit <= n_docs
        assert r.n_docs_fit >= prev_fit and r.tokens_kept >= prev_kept
        assert r.docs_fit_ppm == (r.n_docs_fit * 1_000_000) // n_docs
        assert r.tokens_kept_ppm == \
            (r.tokens_kept * 1_000_000) // total_tokens
        prev_fit, prev_kept = r.n_docs_fit, r.tokens_kept
    assert rows[-1].n_docs_fit == n_docs and rows[-1].tokens_lost == 0


def test_watermark_drop_reconciles_with_disorder(spark, sf_dir):
    """Drop counts are monotone non-increasing in the horizon, and the
    horizon-0 limit (every late event dropped) equals disorder_stats'
    n_late per type."""
    from ozone_spark.operators.events import (disorder_stats,
                                              watermark_drop_matrix)
    events = tables.load_table(spark, sf_dir, "events")
    dis = {r.event_type: r for r in disorder_stats(events).collect()}
    rows = watermark_drop_matrix(events, horizons_s=(0, 60, 300,
                                                     900, 3600)).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r.horizon_s)
        drops = [r.n_dropped for r in rs]
        assert drops == sorted(drops, reverse=True)
        assert rs[0].n_dropped == dis[et].n_late  # horizon 0 drops all late
        for r in rs:
            assert r.n_events == dis[et].n_events
            assert r.drop_ppm == (r.n_dropped * 1_000_000) // r.n_events


def test_events_disorder_python_replay(spark, sf_dir):
    """The watermark-sizing report replays exactly in plain Python:
    running event-time max in event_id order per type, whole-second
    lateness, exact order-statistic percentiles over the late subset."""
    from ozone_spark.operators.events import disorder_stats
    events = tables.load_table(spark, sf_dir, "events")
    rows = {r.event_type: r for r in disorder_stats(events).collect()}
    raw = events.select("event_type", "event_id", "ts").collect()
    by_type: dict[str, list] = {}
    for r in raw:
        by_type.setdefault(r.event_type, []).append((r.event_id, r.ts))
    for et, evs in by_type.items():
        evs.sort()
        late, n_events, mx = [], 0, None
        max_dis = 0
        for _eid, ts in evs:
            if mx is not None:
                n_events += 1
                dis = max(0, int(mx.timestamp()) - int(ts.timestamp()))
                max_dis = max(max_dis, dis)
                if dis > 0:
                    late.append(dis)
            mx = ts if mx is None or ts > mx else mx
        r = rows[et]
        assert r.n_events == n_events and r.n_late == len(late)
        assert r.late_ppm == (len(late) * 1_000_000) // n_events
        assert r.late_max_s == max_dis
        if late:
            late.sort()
            assert r.late_p50_s == late[(len(late) + 1) // 2 - 1]
            assert r.late_p90_s == late[(9 * len(late) + 9) // 10 - 1]
        else:
            assert r.late_p50_s == r.late_p90_s == 0


def test_dedup_source_affinity_reconciles_with_pairs(spark, sf_dir):
    """Affinity cells sum to the pair total, shares are the exact ppm
    formula, and every cell reconciles with a per-pair source lookup
    over the same threshold's pair list."""
    from ozone_spark.functions.dedup import (dedup_source_affinity,
                                             ngram_jaccard_pairs)
    docs = tables.load_table(spark, sf_dir, "documents")
    cells = dedup_source_affinity(docs).collect()
    pairs = ngram_jaccard_pairs(docs, threshold=0.1) \
        .select("doc_a", "doc_b").collect()
    src = {r.doc_id: r.source
           for r in docs.select("doc_id", "source").collect()}
    from collections import Counter
    expect = Counter()
    for p in pairs:
        a, b = sorted((src[p.doc_a], src[p.doc_b]))
        expect[(a, b)] += 1
    total = sum(expect.values())
    assert {(c.source_a, c.source_b): c.n_pairs for c in cells} == dict(expect)
    for c in cells:
        assert c.share_ppm == (c.n_pairs * 1_000_000) // max(total, 1)
        assert c.is_cross_source == (c.source_a != c.source_b)


def test_ppm_codec_round_trip_and_real_decode():
    """The P6 codec is REAL: encode -> decode round-trips pixels
    exactly; the header grammar accepts comments and arbitrary
    whitespace; malformed input raises; decode_media dispatches P6
    payloads to the real decoder with NO fake flag.  The Spark path is
    tests/test_media_kernels.py."""
    import numpy as np
    import pytest as _pytest

    from ozone_spark.functions.multimodal import (decode_media, decode_ppm,
                                                  encode_ppm)

    rng_flat = (np.arange(5 * 4 * 3, dtype=np.int64) * 37 + 11) % 256
    payload = encode_ppm(5, 4, rng_flat)
    w, h, arr = decode_ppm(payload)
    assert (w, h) == (5, 4)
    assert np.array_equal(arr.reshape(-1), rng_flat.astype(np.uint8))
    # real decode through the front door — no fake flag
    assert np.array_equal(decode_media(payload, "image"), arr)
    # header grammar: comments + extra whitespace
    commented = (b"P6\n# a comment\n  5\t4 # trailing\n255\n"
                 + rng_flat.astype(np.uint8).tobytes())
    w2, h2, arr2 = decode_ppm(commented)
    assert (w2, h2) == (5, 4) and np.array_equal(arr2, arr)
    with _pytest.raises(ValueError, match="P6 magic"):
        decode_ppm(b"P5\n5 4\n255\n" + bytes(60))
    with _pytest.raises(ValueError, match="truncated raster"):
        decode_ppm(b"P6\n5 4\n255\n" + bytes(10))
    with _pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n5 4\n65535\n" + bytes(5 * 4 * 6))
    with _pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG....", "image")


def test_bmp_codec_round_trip_and_real_decode():
    """The 24-bit BMP codec is REAL: encode -> decode round-trips RGB
    pixels exactly across widths with and without row padding; the
    top-down (negative height) variant decodes per spec; malformed or
    truncated input raises; decode_media dispatches 'BM' payloads to
    the real decoder while fake=True is honored FIRST even for payloads
    starting with a real magic (ADVICE r7).  The Spark path is
    tests/test_media_kernels.py."""
    import numpy as np
    import pytest as _pytest

    from ozone_spark.functions.multimodal import (decode_bmp, decode_media,
                                                  encode_bmp)

    for w, h in [(15, 3), (16, 2), (1, 1), (7, 5)]:  # padded + unpadded
        flat = (np.arange(w * h * 3, dtype=np.int64) * 37 + 11) % 256
        payload = encode_bmp(w, h, flat)
        w2, h2, arr = decode_bmp(payload)
        assert (w2, h2) == (w, h)
        assert np.array_equal(arr.reshape(-1), flat.astype(np.uint8))
        # real decode through the front door — no fake flag
        assert np.array_equal(decode_media(payload, "image"), arr)
    # top-down rows: negative height decodes to the vertical flip of
    # the same pixel array
    p = encode_bmp(15, 3, np.arange(15 * 3 * 3) % 256)
    td = p[:22] + (-3).to_bytes(4, "little", signed=True) + p[26:]
    assert np.array_equal(decode_bmp(td)[2], decode_bmp(p)[2][::-1])
    with _pytest.raises(ValueError, match="magic"):
        decode_bmp(b"XX123456")
    with _pytest.raises(ValueError, match="truncated BMP header"):
        decode_bmp(p[:30])
    with _pytest.raises(ValueError, match="24-bit"):
        decode_bmp(p[:28] + (8).to_bytes(2, "little") + p[30:])
    with _pytest.raises(ValueError, match="truncated pixel array"):
        decode_bmp(p[:-5])
    # fake=True wins over a real magic (the ADVICE r7 dispatch-order bug)
    assert decode_media(b"P6 not an image", "image", fake=True) == \
        list(b"P6 not an image")
    assert decode_media(p, "image", fake=True) == list(p)


def _copyheavy_docs(spark):
    """Synthetic copy-heavy corpus engineered to hit every branch of the
    contracted pair-graph algebra: a 250-copy template whose shingle
    buckets SATURATE at member level (250 > 200 cap — the contracted
    formulation must drop them via the member-weighted cap, not keep
    them because only one distinct text is present), a 30-copy and a
    25-copy near-dup template pair (cross-text member pairs fan out as
    30*25), copies spread across sources, a pair of singletons, and a
    3-copy doc too short to shingle."""
    rows = []
    for i in range(250):                       # saturated template
        rows.append((i, "alpha beta gamma delta epsilon zeta",
                     f"s{i % 2}"))
    for i in range(300, 330):                  # template B
        rows.append((i, "one two three four five six seven",
                     f"s{i % 3}"))
    for i in range(400, 425):                  # near-dup of B
        rows.append((i, "one two three four five six eight",
                     f"s{i % 2}"))
    rows.append((500, "lonely unique text with several extra words", "s0"))
    rows.append((501, "another completely different singleton body", "s1"))
    for i in range(600, 603):                  # too short to shingle
        rows.append((i, "hi there", "s2"))
    for i in range(700, 704):                  # template D: every copy in
        rows.append((i, "red orange yellow green blue indigo violet",
                     f"t{i - 700}"))           # its OWN source/split-ish
                                               # bucket — single-copy
                                               # diagonal cells must NOT
                                               # create zero-weight rows
    return spark.createDataFrame(
        [(i, t, s, "en") for i, t, s in rows],
        "doc_id long, text string, source string, lang string")


def test_contracted_pair_graph_replays_member_semantics(spark):
    """contracted_pair_graph's algebra must reproduce the member-level
    pair machinery EXACTLY on a copy-heavy corpus — including the
    member-weighted saturation cap (a 250-copy text's buckets must
    drop) and within-group pair fan-out (VERDICT r7 item 1)."""
    from ozone_spark.functions.dedup import (contracted_pair_graph,
                                             ngram_jaccard_pairs)
    docs = _copyheavy_docs(spark)
    groups, cross, within = contracted_pair_graph(docs, threshold=0.5)
    # saturation: the 250-copy template (rep 0) must have NO self pairs
    # and NO cross pairs — every one of its buckets exceeds the member
    # cap, exactly as at member level
    assert within.where("rep = 0").count() == 0
    assert cross.where("rep_a = 0 OR rep_b = 0").count() == 0
    # templates B (rep 300), C (rep 400), D (rep 700) pass within
    assert {r.rep for r in within.collect()} == {300, 400, 700}
    cr = cross.collect()
    assert len(cr) == 1 and (cr[0].rep_a, cr[0].rep_b) == (300, 400)
    assert cr[0].n_common == 4  # 5-shingle texts sharing 4 shingles
    # the member-level pair COUNT fans out as the algebra predicts:
    # C(30,2) + C(25,2) + C(4,2) within + 30*25 cross + C(3,2)=0
    # (short docs have no shingles) + 0 from the saturated template
    member_pairs = ngram_jaccard_pairs(docs, threshold=0.5).count()
    assert member_pairs == 30 * 29 // 2 + 25 * 24 // 2 + 6 + 30 * 25


def test_dup_graph_centrality_contracted_matches_member_replay(spark):
    """r12 contraction (VERDICT r11 item 5): the copy-weighted rep-graph
    propagation must equal the member-level damped integer loop
    bit-for-bit on the adversarial copy-heavy corpus — saturated
    template contributing nothing, within-group self-loops, 30x25
    cross fan-out and singleton groups all exercised — at a loose and
    a tight threshold."""
    from ozone_spark.functions.dedup import (CENTRALITY_DAMP_PPM,
                                             CENTRALITY_ITERS,
                                             dup_graph_centrality,
                                             ngram_jaccard_pairs)
    docs = _copyheavy_docs(spark)
    for thr in (0.1, 0.5):
        pairs = [(r.doc_a, r.doc_b) for r in
                 ngram_jaccard_pairs(docs, threshold=thr)
                 .select("doc_a", "doc_b").collect()]
        edges = pairs + [(b, a) for a, b in pairs]
        deg: dict[int, int] = {}
        for s, _ in edges:
            deg[s] = deg.get(s, 0) + 1
        score = {n: 1_000_000 for n in deg}
        for _ in range(CENTRALITY_ITERS):
            infl: dict[int, int] = {}
            for s, d in edges:
                infl[d] = infl.get(d, 0) + score[s] // deg[s]
            score = {n: (1_000_000 - CENTRALITY_DAMP_PPM)
                     + (CENTRALITY_DAMP_PPM * infl.get(n, 0)) // 1_000_000
                     for n in deg}
        expect = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        rows = dup_graph_centrality(docs, threshold=thr).collect()
        assert [(r.doc_id, r.score) for r in rows] == expect, thr
        for r in rows:
            assert r.deg == deg[r.doc_id], (thr, r)


def test_member_grain_reports_match_member_formulations(spark):
    """The three r8-contracted reports must equal their member-level
    reference formulations row-for-row on the adversarial copy-heavy
    corpus, at both a loose and a tight threshold."""
    from ozone_spark.functions.dedup import (dedup_source_affinity,
                                             dedup_source_affinity_member)
    from ozone_spark.functions.pipeline import (
        near_dup_leakage, near_dup_leakage_member, quality_by_dup_degree,
        quality_by_dup_degree_member)
    docs = _copyheavy_docs(spark)
    for thr in (0.1, 0.5):
        assert quality_by_dup_degree(docs, threshold=thr).collect() == \
            quality_by_dup_degree_member(docs, threshold=thr).collect()
        assert dedup_source_affinity(docs, threshold=thr).collect() == \
            dedup_source_affinity_member(docs, threshold=thr).collect()
        assert near_dup_leakage(docs, threshold=thr).collect() == \
            near_dup_leakage_member(docs, threshold=thr).collect()


def test_member_grain_reports_match_on_fixture(spark, sf_dir):
    """Same reconciliation on the shipped fixture corpus (natural
    duplication structure, all three oracles' gate grain)."""
    from ozone_spark.functions.dedup import (dedup_source_affinity,
                                             dedup_source_affinity_member)
    from ozone_spark.functions.pipeline import (
        near_dup_leakage, near_dup_leakage_member, quality_by_dup_degree,
        quality_by_dup_degree_member)
    docs = tables.load_table(spark, sf_dir, "documents")
    assert quality_by_dup_degree(docs).collect() == \
        quality_by_dup_degree_member(docs).collect()
    assert dedup_source_affinity(docs).collect() == \
        dedup_source_affinity_member(docs).collect()
    assert near_dup_leakage(docs).collect() == \
        near_dup_leakage_member(docs).collect()


def test_incremental_ingest_dedup_unordered_same_set(spark):
    """ordered=False (the streaming drain's per-batch form, r12) must
    return the identical row SET — only the trailing global sort is
    skipped."""
    from ozone_spark.functions.dedup import incremental_ingest_dedup
    corpus = spark.createDataFrame(
        [(1, "one two three four five six seven"),
         (2, "completely unrelated corpus body with many words")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, "one two three four five six seven"),
         (101, "one two three four five six eight"),
         (102, "entirely novel batch text nothing shared")],
        "doc_id long, text string")
    ordered = incremental_ingest_dedup(corpus, batch, threshold=0.5)
    unordered = incremental_ingest_dedup(corpus, batch, threshold=0.5,
                                         ordered=False)
    assert sorted(map(tuple, unordered.collect())) == \
        sorted(map(tuple, ordered.collect()))
    # and the unordered plan really has no global sort
    assert "Sort [doc_id" not in unordered._jdf.queryExecution() \
        .executedPlan().toString()


def test_slot_cache_stats_observable(spark):
    """ADVICE r11: slot hits/misses are counted, so a silent always-miss
    regression (plan-key divergence) is observable."""
    from ozone_spark import session
    from ozone_spark.functions import dedup as D
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    slot = "unit_test_stats_slot"
    session.state(spark).get("slots", {}).pop(slot, None)
    assert D.slot_stats(slot) == {}                    # never used
    D._slot_cache(df, slot)
    assert D.slot_stats(slot)[slot] == (0, 1)
    D._slot_cache(spark.range(10).selectExpr("id", "id * 2 AS v"), slot)
    assert D.slot_stats(slot)[slot] == (1, 1)          # sameSemantics hit
    D._slot_cache(spark.range(9).selectExpr("id", "id * 2 AS v"), slot)
    assert D.slot_stats(slot)[slot] == (1, 2)          # new plan: miss
    D.release_slots(slot)


def test_incremental_ingest_dedup_verdicts(spark, sf_dir):
    """Every verdict branch on an engineered corpus/batch pair: exact
    copy -> exact_dup (even when too short to shingle), near-copy over
    the Jaccard threshold -> near_dup with the right best match, novel
    text -> new; and the integer-ppm threshold rule replays exactly."""
    from ozone_spark.functions.dedup import incremental_ingest_dedup
    corpus = spark.createDataFrame(
        [(1, "one two three four five six seven"),
         (2, "completely unrelated corpus body with many words"),
         (3, "hi there")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(100, "one two three four five six seven"),    # exact of 1
         (101, "one two three four five six eight"),    # near of 1
         (102, "entirely novel batch text nothing shared"),
         (103, "hi there"),                             # exact, no shingles
         (104, "zz")],                                  # new, no shingles
        "doc_id long, text string")
    rows = {r.doc_id: r for r in
            incremental_ingest_dedup(corpus, batch, threshold=0.5).collect()}
    assert rows[100].verdict == "exact_dup" and rows[100].is_exact_dup
    assert rows[101].verdict == "near_dup"
    assert rows[101].best_match_id == 1
    # 4 shared of 5+5 shingles: jaccard = 4/6
    assert rows[101].best_jaccard_ppm == 4 * 1_000_000 // 6
    assert rows[102].verdict == "new"
    assert rows[103].verdict == "exact_dup" and rows[103].n_candidates == 0
    assert rows[104].verdict == "new" and rows[104].best_match_id == -1
    # fixture smoke: verdicts partition the batch; near_dup implies the
    # ppm threshold; exact_dup wins precedence over any jaccard
    docs = tables.load_table(spark, sf_dir, "documents")
    out = incremental_ingest_dedup(
        docs.where("doc_id % 10 <> 0"), docs.where("doc_id % 10 = 0"))
    got = out.collect()
    assert len(got) == docs.where("doc_id % 10 = 0").count()
    for r in got:
        if r.verdict == "near_dup":
            assert r.best_jaccard_ppm >= 500_000 and not r.is_exact_dup
        elif r.verdict == "exact_dup":
            assert r.is_exact_dup
        else:
            assert not r.is_exact_dup and r.best_jaccard_ppm < 500_000


def test_contamination_by_source_reconciles(spark, sf_dir):
    """The source rollup reconciles exactly with the per-doc
    decontaminate flags, and the ppm identity holds."""
    from ozone_spark.functions.pipeline import (contamination_by_source,
                                                decontaminate)
    docs = tables.load_table(spark, sf_dir, "documents")
    train = docs.where("doc_id % 25 <> 0")
    ev = docs.where("doc_id % 25 = 0")
    per_doc = decontaminate(train, ev).collect()
    total_contam = sum(1 for r in per_doc if r.contaminated)
    rows = contamination_by_source(train, ev).collect()
    assert sum(r.n_contaminated for r in rows) == total_contam
    assert sum(r.n_docs for r in rows) == len(per_doc)
    for r in rows:
        assert r.contamination_ppm == \
            (r.n_contaminated * 1_000_000) // r.n_docs


def test_curation_report_verdict_thresholds(spark, sf_dir):
    """Verdicts follow the integer ppm thresholds exactly; shares
    partition the corpus."""
    from ozone_spark.functions.text import (CURATION_DOWNSAMPLE_PPM,
                                            CURATION_KEEP_PPM,
                                            curation_report)
    docs = tables.load_table(spark, sf_dir, "documents")
    rows = curation_report(docs).collect()
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert r.pass_ppm == (r.n_pass * 1_000_000) // r.n_docs
        expect = ("keep" if r.pass_ppm >= CURATION_KEEP_PPM
                  else "downsample" if r.pass_ppm >= CURATION_DOWNSAMPLE_PPM
                  else "drop")
        assert r.verdict == expect


def test_length_percentiles_exact_order_stats(spark, sf_dir):
    """The picked percentiles equal a Python recomputation of the
    ceil-rank order statistics over the collected per-source lengths."""
    from ozone_spark.functions.text import length_percentiles_by_source
    docs = tables.load_table(spark, sf_dir, "documents")
    by_src: dict[str, list] = {}
    for r in docs.select("source", "n_chars", "doc_id").collect():
        by_src.setdefault(r.source, []).append((r.n_chars, r.doc_id))
    for r in length_percentiles_by_source(docs).collect():
        vals = [c for c, _ in sorted(by_src[r.source])]
        n = len(vals)
        assert r.n_docs == n
        assert r.min_chars == vals[0] and r.max_chars == vals[-1]
        assert r.p50_chars == vals[(n + 1) // 2 - 1]
        assert r.p90_chars == vals[(9 * n + 9) // 10 - 1]
        assert r.p99_chars == vals[(99 * n + 99) // 100 - 1]


# ---------------------------------------------------------------------------
# round-8 session additions: HDR quantile sketch, interval-join
# concurrency, SymSpell record linkage, prototype pruning
# ---------------------------------------------------------------------------


def test_hdr_histogram_is_mergeable_and_bounded(spark, t):
    """Shard histograms union+sum into the global histogram (the
    property that makes one-pass 100 TB percentiles possible), and
    every estimate honors the nominal 1/(2*sub) relative-error bound."""
    from ozone_spark.functions import sketch

    docs = t["documents"]
    whole = sketch.hdr_histogram(docs)
    sh_a = sketch.hdr_histogram(docs.where("doc_id % 2 = 0"))
    sh_b = sketch.hdr_histogram(docs.where("doc_id % 2 = 1"))
    merged = (
        sh_a.unionByName(sh_b)
        .groupBy("g", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    q_whole = sketch.hdr_quantiles_from_hist(whole).orderBy("g").collect()
    q_merged = sketch.hdr_quantiles_from_hist(merged).orderBy("g").collect()
    assert [tuple(r) for r in q_whole] == [tuple(r) for r in q_merged]

    rep = sketch.hdr_quantile_report(docs).collect()
    assert rep
    for r in rep:
        for q in (50, 90, 99):
            assert r[f"p{q}_err_ppm"] <= r["bound_ppm"]


def test_session_concurrency_matches_naive_pair_join(spark, t):
    """The two-level prefix-sum derivation equals the naive
    pair-materializing BETWEEN join (computed in Spark itself here;
    the registry oracle re-checks it against DuckDB's IEJoin)."""
    from ozone_spark.operators import events as eops

    ev = t["events"]
    fast = [tuple(r) for r in eops.session_concurrency(ev).collect()]

    iv = eops.session_intervals(ev)
    p = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("u"), F.unix_timestamp("ts").alias("pt"))
    naive = (
        iv.join(p, (F.col("pt") >= F.col("s")) & (F.col("pt") <= F.col("e"))
                & (F.col("u") != F.col("user_id")), "left")
        .groupBy("user_id", "session_id")
        .agg(F.count("pt").alias("concurrent"))
        .groupBy("concurrent").agg(F.count("*").alias("n_sessions"))
        .orderBy("concurrent")
    )
    assert fast == [tuple(r) for r in naive.collect()]


def test_session_concurrency_keeps_null_user_sessions_at_zero(spark):
    """NULL-user sessions count with concurrent = 0 and NULL-user
    purchases count for no one, exactly as the registry oracle's LEFT
    JOIN on `p.u <> iv.user_id` does (run here in DuckDB)."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from ozone_spark import registry
    from ozone_spark.operators import events as eops
    from tests.util import assert_match

    t0 = dt.datetime(2024, 3, 1)
    # (seconds after t0, user, type): two NULL-user sessions (the
    # first spans other users' purchases), NULL-user purchases inside
    # user 3's session, and users 1 and 2 overlapping each other
    spec = [(0, 1, "view"), (100, 1, "purchase"), (5000, 1, "view"),
            (50, 2, "purchase"), (120, 2, "purchase"),
            (10, None, "view"), (60, None, "purchase"),
            (200, None, "view"), (10000, None, "purchase"),
            (9990, 3, "view"), (10000, None, "purchase"),
            (10010, 3, "view"), (10005, 2, "purchase")]
    pdf = pd.DataFrame(
        [(i, t0 + dt.timedelta(seconds=s), u, e)
         for i, (s, u, e) in enumerate(spec)],
        columns=["event_id", "ts", "user_id", "event_type"])
    pdf["user_id"] = pdf["user_id"].astype("Int64")
    events = spark.createDataFrame(
        [(int(r.event_id), r.ts.to_pydatetime(),
          None if pd.isna(r.user_id) else int(r.user_id), r.event_type)
         for r in pdf.itertuples()],
        "event_id long, ts timestamp, user_id long, event_type string")
    oracle = {q.name: q.oracle for q in registry._REGISTRY_ORDER}[
        "session_concurrency"]
    con = duckdb.connect()
    con.register("events", pdf)
    try:
        got = eops.session_concurrency(events)
        assert_match(got, oracle, con, "session_concurrency")
        # zero: both NULL-user sessions, user 1's second and user 2's
        # last; one: user 1's first, user 2's first, user 3's (user 2
        # at 10005 — the NULL-user purchases count for no one)
        assert {r.concurrent: r.n_sessions for r in got.collect()} == {
            0: 4, 1: 3}
    finally:
        con.close()


def test_record_linkage_symspell_recall_is_total(spark, t):
    """Symmetric-delete blocking catches EVERY 1-edit pair by
    construction, so recall is exactly 1.0 for all three perturbation
    classes; matched >= true keeps precision <= 1."""
    from ozone_spark.functions import linkage

    rows = linkage.record_linkage(t["customer"]).collect()
    assert {r.b_class for r in rows} == {"exact", "delete", "substitute"}
    for r in rows:
        assert r.recall_ppm == 1_000_000
        assert r.n_true == r.n_entities
        assert r.n_matched >= r.n_true
        assert 0 < r.precision_ppm <= 1_000_000


def test_prototype_pruning_cuts_the_close_margin(spark, t):
    """Pruned count is exactly ceil(25% of the cluster) and the pruned
    members sit strictly inside the kept members' distance profile."""
    from ozone_spark.functions import similarity

    rows = similarity.prototype_pruning(t["embeddings"]).collect()
    assert rows
    for r in rows:
        assert r.n_pruned == (25 * r.n + 99) // 100
        assert r.pruned_mean_dist <= r.kept_mean_dist


def test_mixture_waterfill_matches_iterative_redistribution(spark, t):
    """The closed-form prefix waterfill equals the textbook iterative
    redistribution (repeat: split remaining budget equally among
    unsaturated cells, cap the overflowers) run to fixpoint in plain
    Python, and the budget is conserved up to floor-division remainder."""
    from ozone_spark.functions import pipeline

    rows = pipeline.mixture_waterfill(t["documents"]).collect()
    caps = {r.lang: r.cap for r in rows}
    budget = 3 * sum(r.toks for r in rows)

    alloc = dict.fromkeys(caps, 0)
    active = set(caps)
    remaining = budget
    while active and remaining > 0:
        share = remaining // len(active)
        if share == 0:
            break
        overflow = {l for l in active if caps[l] <= share}
        if not overflow:
            for l in active:
                alloc[l] = share
            break
        for l in overflow:
            alloc[l] = caps[l]
            remaining -= caps[l]
        active -= overflow
    for r in rows:
        assert r.allocated == alloc[r.lang], r.lang
        # unsaturated shares are strictly below cap (boundary condition
        # of the prefix rule), so cap-equality characterizes saturation
        assert (r.saturated == 1) == (r.allocated == r.cap)
    assert sum(r.allocated for r in rows) <= budget
    # every unsaturated cell gets the identical share
    shares = {r.allocated for r in rows if r.saturated == 0}
    assert len(shares) <= 1


def test_shard_dedup_leakage_locality_beats_hashing(spark, t):
    """Both strategies see the SAME duplicated-span pair population
    (sharding cannot change what is duplicated, only where it lands),
    and one-permutation-MinHash locality sharding strictly reduces the
    cross-shard share on any corpus with near-duplicate structure."""
    from ozone_spark.functions import pipeline

    rows = {r.strategy: r for r in
            pipeline.shard_dedup_leakage(t["documents"]).collect()}
    assert set(rows) == {"doc_hash", "span_locality"}
    dh, sl = rows["doc_hash"], rows["span_locality"]
    assert dh.n_dup_spans == sl.n_dup_spans
    assert dh.dup_pairs == sl.dup_pairs
    assert sl.cross_shard_pairs <= dh.cross_shard_pairs
    for r in (dh, sl):
        assert 0 <= r.cross_shard_pairs <= r.dup_pairs


def test_linkage_degree_distribution_reconciles_with_linkage(spark, t):
    """Degree histogram accounting: every A record appears in exactly
    one degree bucket, the edge total equals record_linkage's matched
    pair total, and ambiguous_ppm re-derives from the histogram."""
    from ozone_spark.functions import linkage

    rows = linkage.linkage_degree_distribution(t["customer"]).collect()
    link = linkage.record_linkage(t["customer"]).collect()
    n_customers = t["customer"].count()
    assert sum(r.n_records for r in rows) == n_customers
    n_edges = sum(r.degree * r.n_records for r in rows)
    assert all(r.n_edges == n_edges for r in rows)
    assert n_edges == sum(r.n_matched for r in link)
    ambig = sum(r.n_records for r in rows if r.degree >= 2)
    assert rows[0].ambiguous_ppm == (ambig * 1_000_000) // n_customers


def test_hdr_ingest_drift_after_equals_full_recompute(spark, t):
    """Merging the batch histogram into the resident corpus histogram
    gives EXACTLY the whole-corpus estimates (counter addition is the
    ingest path), and row counts are conserved."""
    from ozone_spark.functions import sketch

    docs = t["documents"]
    batch_pred = ("pmod(CAST(conv(substring(md5(concat('ingest-v1:', "
                  "CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT), 10)"
                  " = 0")
    drift = sketch.hdr_ingest_drift(
        docs.where(f"NOT ({batch_pred})"), docs.where(batch_pred)).collect()
    full = {r["source"]: r for r in sketch.hdr_quantile_report(docs).collect()}
    for r in drift:
        f = full[r["source"]]
        assert r.n_after == f.n
        for q in (50, 90, 99):
            assert r[f"p{q}_after"] == f[f"p{q}_est"]


def test_bucket_cap_report_explains_cap_suppressed_zero_pairs(spark, t):
    """VERDICT r8 items 3/4 reconciliation: on a copy-heavy corpus
    where EVERY shingle bucket exceeds the cap, ngram_jaccard_pairs
    returns zero pairs — and bucket_cap_report must account for the
    suppression exactly: all buckets dropped, the full algebraic pair
    mass C(n,2) per shingle dropped, every doc in a dropped bucket,
    survivor share 0.  This is the mechanism behind the 100x
    byte-identical replica probe recording 0 pairs."""
    n_copies, cap = 12, 5
    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(i, text) for i in range(n_copies)], "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(
        docs, threshold=0.1, max_bucket=cap, slot="cap_test_sh")
    assert pairs.count() == 0  # cap-suppressed, NOT "no duplicates"
    rep = dedup.bucket_cap_report(
        docs, max_bucket=cap, slot="cap_test_sh").collect()[0]
    n_shingles = len(text.split()) - 2  # distinct 3-grams per copy
    assert rep.n_buckets == n_shingles
    assert rep.n_dropped_buckets == n_shingles  # every bucket > cap
    assert rep.dropped_bucket_ppm == 1_000_000
    assert rep.pairs_dropped == rep.pairs_total \
        == n_shingles * (n_copies * (n_copies - 1) // 2)
    assert rep.n_docs_in_dropped == rep.n_docs == n_copies
    assert rep.survivor_pair_ppm == 0 and rep.pairs_dropped_ppm == 1_000_000
    # control: under the default 200 cap nothing is dropped and the
    # pair list is the full clique
    rep2 = dedup.bucket_cap_report(
        docs, max_bucket=200, slot="cap_test_sh").collect()[0]
    assert rep2.n_dropped_buckets == 0 and rep2.survivor_pair_ppm == 1_000_000
    full = dedup.ngram_jaccard_pairs(
        docs, threshold=0.1, max_bucket=200, slot="cap_test_sh")
    assert full.count() == n_copies * (n_copies - 1) // 2


def test_png_codec_round_trip_and_real_decode():
    """The PNG codec is REAL (stdlib zlib + numpy, VERDICT r8 item 7):
    encode -> decode round-trips RGB pixels exactly, with every image
    >= 5 rows exercising ALL FIVE scanline filter types (the encoder's
    r % 5 rule); random rasters round-trip; bad signature / corrupted
    CRC / unsupported IHDR / truncated raster raise; decode_media
    dispatches on the 8-byte PNG signature while fake=True still wins.
    The Spark path is tests/test_media_kernels.py."""
    import numpy as np
    import pytest as _pytest

    from ozone_spark.functions.multimodal import (decode_media, decode_png,
                                                  encode_png)

    for w, h in [(13, 5), (13, 7), (1, 1), (4, 23)]:
        flat = (np.arange(w * h * 3, dtype=np.int64) * 37 + 11) % 256
        payload = encode_png(w, h, flat)
        w2, h2, arr = decode_png(payload)
        assert (w2, h2) == (w, h)
        assert np.array_equal(arr.reshape(-1), flat.astype(np.uint8))
        assert np.array_equal(decode_media(payload, "image"), arr)
    # random rasters: deflate + all five filters, content-independent
    rng = np.random.RandomState(7)
    for _ in range(5):
        w, h = int(rng.randint(1, 40)), int(rng.randint(5, 40))
        flat = rng.randint(0, 256, w * h * 3).astype(np.uint8)
        assert np.array_equal(
            decode_png(encode_png(w, h, flat))[2].reshape(-1), flat)
    p = encode_png(13, 6, np.arange(13 * 6 * 3) % 256)
    with _pytest.raises(ValueError, match="signature"):
        decode_png(b"XX" + p[2:])
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(p[:20] + bytes([p[20] ^ 1]) + p[21:])
    with _pytest.raises(ValueError, match="truecolor"):
        # flip color type (IHDR byte 9 of data = offset 8+8+9)
        bad = bytearray(p)
        bad[8 + 8 + 9] = 0
        import zlib
        bad[8 + 4 + 4 + 13:8 + 4 + 4 + 17] = zlib.crc32(
            bytes(bad[8 + 4:8 + 8 + 13])).to_bytes(4, "big")
        decode_png(bytes(bad))
    with _pytest.raises(ValueError, match="truncated PNG chunk"):
        decode_png(p[:-17])  # cuts IEND (12 B) plus 5 B into IDAT
    assert decode_media(p, "image", fake=True) == list(p)


def test_saturated_pair_sample_recovers_capped_signal(spark, t):
    """The sampled recovery pass surfaces pairs from EXACTLY the
    buckets the capped generator drops: on a copy-heavy corpus where
    every bucket exceeds the cap (ngram_jaccard_pairs returns zero),
    saturated_pair_sample returns a nonempty, deterministic pair list
    whose members are all true copies; per-bucket survivor counts
    respect the 4x safety bound; and on a corpus with NO saturated
    bucket it returns nothing (it never duplicates the capped pass)."""
    n_copies, cap, sample = 12, 5, 3
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(i, text) for i in range(n_copies)], "doc_id long, text string")
    assert dedup.ngram_jaccard_pairs(
        docs, threshold=0.1, max_bucket=cap, slot="sat_test").count() == 0
    got = dedup.saturated_pair_sample(
        docs, max_bucket=cap, sample=sample).collect()
    assert got, "saturated buckets must yield recovered pairs"
    ids = set(range(n_copies))
    for r in got:
        assert r.doc_a in ids and r.doc_b in ids and r.doc_a < r.doc_b
        # 8 distinct shingles per copy = hard upper bound on sharing
        assert 1 <= r.n_shared_saturated <= 8
    # deterministic: same inputs -> identical rows
    again = dedup.saturated_pair_sample(
        docs, max_bucket=cap, sample=sample).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # no saturated buckets -> empty (distinct docs, tiny corpus)
    uniq = spark.createDataFrame(
        [(i, f"w{i}a w{i}b w{i}c w{i}d") for i in range(8)],
        "doc_id long, text string")
    assert dedup.saturated_pair_sample(
        uniq, max_bucket=cap, sample=sample).count() == 0


def test_temperature_mixture_compresses_toward_uniform(spark, t):
    """The sqrt-tempered shares keep the language ORDER of the natural
    shares but compress the spread: the highest-resource language's
    share shrinks (boost <= 1e6 ppm), the lowest-resource language's
    grows (boost >= 1e6 ppm), shares sum to ~1e6, and every tempered
    share sits between min(natural, uniform) and max(natural, uniform)
    — the defining property of a 0 < alpha < 1 temperature rebalance."""
    from ozone_spark.functions import pipeline as P

    rows = P.temperature_mixture(t["documents"]).collect()
    assert len(rows) >= 2
    by_nat = sorted(rows, key=lambda r: r.natural_ppm)
    by_tmp = sorted(rows, key=lambda r: r.temp_ppm)
    assert [r.lang for r in by_nat] == [r.lang for r in by_tmp]
    assert by_nat[0].boost_ppm >= 1_000_000      # low-resource boosted
    assert by_nat[-1].boost_ppm <= 1_000_000     # high-resource damped
    assert abs(sum(r.temp_ppm for r in rows) - 1_000_000) <= len(rows)
    uniform = 1_000_000 // len(rows)
    for r in rows:
        lo, hi = sorted((r.natural_ppm, uniform))
        assert lo - len(rows) <= r.temp_ppm <= hi + len(rows), r


def test_bucket_cap_sweep_reconciles_with_report(spark, t):
    """The sweep's cap=200 row must equal bucket_cap_report's bucket and
    pair-mass accounting exactly (same histogram, same algebra), and the
    curve is monotone: raising the cap never drops MORE buckets or more
    pair mass."""
    docs = t["documents"]
    sweep = {r.cap: r for r in dedup.bucket_cap_sweep(docs).collect()}
    rep = dedup.bucket_cap_report(docs).collect()[0]
    row200 = sweep[200]
    assert row200.n_buckets == rep.n_buckets
    assert row200.n_dropped_buckets == rep.n_dropped_buckets
    assert row200.pairs_total == rep.pairs_total
    assert row200.pairs_dropped == rep.pairs_dropped
    assert row200.survivor_pair_ppm == rep.survivor_pair_ppm
    caps = sorted(sweep)
    for lo, hi in zip(caps, caps[1:]):
        assert sweep[lo].n_dropped_buckets >= sweep[hi].n_dropped_buckets
        assert sweep[lo].pairs_dropped >= sweep[hi].pairs_dropped
        assert sweep[lo].pairs_total == sweep[hi].pairs_total


def test_recovery_supersets_capped_and_rescoring_is_exact(spark, t):
    """recover_saturated must only ADD or RE-SCORE pairs, never lose
    one: every capped-green pair key survives in the recovering run,
    and any pair present in both carries n_common >= its capped count
    (the exact re-score includes the saturated shingles the capped
    index dropped).  Recovered-only pairs must touch at least one
    saturated bucket by construction — on a corpus where nothing
    saturates, the two runs are identical."""
    docs = t["documents"]
    capped = {(r.doc_a, r.doc_b): r.n_common
              for r in dedup.ngram_jaccard_pairs(
                  docs, threshold=0.1, max_bucket=5).collect()}
    rec = {(r.doc_a, r.doc_b): r.n_common
           for r in dedup.ngram_jaccard_pairs(
               docs, threshold=0.1, max_bucket=5,
               recover_saturated=3).collect()}
    assert set(capped) <= set(rec)
    for k, n in capped.items():
        assert rec[k] >= n, k
    # no-saturation corpus: cap above the fixture's bucket tail makes
    # recovery a no-op (the candidate set is empty)
    hi = {(r.doc_a, r.doc_b, r.n_common, r.jaccard)
          for r in dedup.ngram_jaccard_pairs(
              docs, threshold=0.1, max_bucket=10**6).collect()}
    hi_rec = {(r.doc_a, r.doc_b, r.n_common, r.jaccard)
              for r in dedup.ngram_jaccard_pairs(
                  docs, threshold=0.1, max_bucket=10**6,
                  recover_saturated=3).collect()}
    assert hi == hi_rec


def test_saturation_recall_orders_the_arms(spark, t):
    """The recall report's defining inequalities: hits never exceed arm
    size or truth, and the recovering arm's recall is >= the capped
    arm's (recovery is a superset by the previous invariant)."""
    r = dedup.saturation_recall(t["documents"]).collect()[0]
    assert r.n_capped_hit <= min(r.n_capped, r.n_truth)
    assert r.n_recovered_hit <= min(r.n_recovered, r.n_truth)
    assert r.n_recovered >= r.n_capped
    assert r.recovered_recall_ppm >= r.capped_recall_ppm
    assert 0 <= r.recovered_recall_ppm <= 1_000_000


def test_recovery_sample_sweep_reconciles_with_sampler(spark, t):
    """The sweep's row at a given sample must equal what the underlying
    operators report independently: n_candidate_pairs at sample=3 is
    exactly saturated_pair_sample(min_shared=1)'s distinct pair count,
    n_saturated_buckets is sample-invariant and matches
    bucket_cap_report's regime, and n_kept_rows is monotone
    nondecreasing in sample (the thinning keep-rule skey*s < sample*2^28
    is literally monotone in sample)."""
    docs = t["documents"]
    rows = {r.sample: r for r in dedup.recovery_sample_sweep(
        docs, max_bucket=5).collect()}
    assert set(rows) == set(dedup.RECOVERY_SWEEP_SAMPLES)
    sampler_pairs = dedup.saturated_pair_sample(
        docs, max_bucket=5, sample=3, min_shared=1).count()
    assert rows[3].n_candidate_pairs == sampler_pairs
    n_sat = {r.n_saturated_buckets for r in rows.values()}
    assert len(n_sat) == 1 and n_sat.pop() > 0
    ordered = [rows[s] for s in sorted(rows)]
    for a, b in zip(ordered, ordered[1:]):
        assert b.n_kept_rows >= a.n_kept_rows
        assert b.n_candidate_docs <= 2 * b.n_candidate_pairs + 1


def test_recovery_yield_by_size_sums_to_sweep_row(spark, t):
    """Per-size-bin rows must partition the global thinning at the same
    (cap, sample): n_kept_rows / n_ok_buckets / n_buckets sum exactly to
    the sweep's sample=3 row (each saturated bucket lives in exactly one
    bin), and per-bin distinct pair counts sum to >= the global distinct
    count (a pair can recur across bins via different shingles)."""
    docs = t["documents"]
    bins_rows = dedup.recovery_yield_by_size(
        docs, max_bucket=5, sample=3).collect()
    sweep3 = {r.sample: r for r in dedup.recovery_sample_sweep(
        docs, max_bucket=5).collect()}[3]
    assert sum(r.n_kept_rows for r in bins_rows) == sweep3.n_kept_rows
    assert sum(r.n_ok_buckets for r in bins_rows) == sweep3.n_ok_buckets
    assert sum(r.n_buckets for r in bins_rows) == sweep3.n_saturated_buckets
    assert (sum(r.n_candidate_pairs for r in bins_rows)
            >= sweep3.n_candidate_pairs)
    for r in bins_rows:
        # bin label invariant: every bucket in the bin fits under 2^bin,
        # and saturation puts it above the cap
        assert r.bin_max_size >= 6  # > cap 5
        assert r.pair_mass_dropped >= r.n_buckets * (6 * 5 // 2)


def test_jpeg_codec_round_trip_and_errors():
    """The JPEG codec is REAL (numpy-only baseline sequential, VERDICT
    r9 item 6): block-CONSTANT rasters round-trip EXACTLY (DC-only
    blocks under the all-ones quant table — the gate fixture's
    replayability trick), general random rasters round-trip within the
    DCT coefficient-rounding bound while exercising the AC Huffman
    path (nonzero runs, ZRL, mid-block EOB), the scan survives byte
    stuffing (0xFF bytes occur in real scans), and malformed streams
    raise; decode_media dispatches on the SOI marker with fake=True
    still winning."""
    import numpy as np
    import pytest as _pytest

    from ozone_spark.functions.multimodal import (decode_jpeg, decode_media,
                                                  encode_jpeg)

    # exact path: block-constant rasters (the jpeg_media_table shape)
    for doc_id, h in [(0, 16), (4217, 24), (255, 16), (99999, 40)]:
        w, bw, bh = 24, 3, h // 8
        bi = np.arange(bw * bh)
        vals = ((doc_id + 3 * bi[:, None] + np.arange(3)) % 256) \
            .astype(np.uint8)
        raster = (np.broadcast_to(vals[:, None, None, :],
                                  (bi.size, 8, 8, 3))
                  .reshape(bh, bw, 8, 8, 3).transpose(0, 2, 1, 3, 4)
                  .reshape(h, w, 3))
        payload = encode_jpeg(w, h, raster.reshape(-1))
        w2, h2, out = decode_jpeg(payload)
        assert (w2, h2) == (w, h)
        assert np.array_equal(out, raster)
        assert np.array_equal(decode_media(payload, "image"), out)
        assert decode_media(payload, "image", fake=True) == list(payload)
    # general rasters: the only loss is DCT coefficient rounding;
    # coefficient recovery itself is exact, so error stays tiny
    rng = np.random.RandomState(11)
    for _ in range(4):
        w = 8 * int(rng.randint(1, 5))
        h = 8 * int(rng.randint(1, 5))
        flat = rng.randint(0, 256, w * h * 3).astype(np.uint8)
        _, _, out = decode_jpeg(encode_jpeg(w, h, flat))
        err = np.abs(out.reshape(-1).astype(int) - flat.astype(int)).max()
        assert err <= 2, err
    p = encode_jpeg(24, 16, (np.arange(24 * 16 * 3) % 256))
    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"XX" + p[2:])
    with _pytest.raises(ValueError, match="truncated"):
        decode_jpeg(p[:40])
    with _pytest.raises(ValueError, match="block-aligned"):
        encode_jpeg(23, 16, np.zeros(23 * 16 * 3))
    with _pytest.raises(ValueError, match="baseline"):
        bad = bytearray(p)
        i = bytes(bad).index(b"\xFF\xC0")
        bad[i + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
        decode_jpeg(bytes(bad))


def test_slot_cache_twin_release_keeps_survivor_warm(spark):
    """ADVICE r10 medium: Spark's CacheManager is PLAN-keyed, so two
    slots holding sameSemantics twins share ONE cache entry.  Releasing
    either slot must leave the retained twin's entry cached (r10's
    armed scale probe released 'probe_rec' and silently de-cached the
    stage-warmed 'ngram_sh', turning its warm-regime timings cold), and
    a slot HIT on an externally uncached frame must re-persist it."""
    df = spark.range(100).selectExpr("id", "id * 2 as v")
    a = dedup._slot_cache(df, "twin_test_a")
    b = dedup._slot_cache(
        spark.range(100).selectExpr("id", "id * 2 as v"), "twin_test_b")
    assert a.sameSemantics(b)
    a.count()
    assert b.storageLevel.useMemory or b.storageLevel.useDisk
    # releasing one slot must NOT de-cache the retained twin
    assert dedup.release_slots("twin_test_a") == ["twin_test_a"]
    assert b.storageLevel.useMemory or b.storageLevel.useDisk
    # releasing the survivor really releases the shared entry
    assert dedup.release_slots("twin_test_b") == ["twin_test_b"]
    assert not (b.storageLevel.useMemory or b.storageLevel.useDisk)
    # self-heal: a slot hit on an externally uncached frame re-persists
    c = dedup._slot_cache(df, "twin_test_c")
    c.unpersist()
    assert not (c.storageLevel.useMemory or c.storageLevel.useDisk)
    c2 = dedup._slot_cache(
        spark.range(100).selectExpr("id", "id * 2 as v"), "twin_test_c")
    assert c2 is c
    assert c2.storageLevel.useMemory or c2.storageLevel.useDisk
    dedup.release_slots("twin_test_c")


def test_connected_components_partials_tree_reduce_paths(spark):
    """VERDICT r10 item 1: the per-partition union-find partials path
    must label identically to the direct fold and the distributed loop
    on the same graph — including (a) the tree-reduce rounds (forced by
    a local bound BELOW the first-round star count but >= the node
    count) and (b) the tier-3 fallback where even the star list exceeds
    the bound and the loop runs over the reduced graph."""
    import random
    rng = random.Random(7)
    # 400 nodes in 40 chained components of 10, plus chords, spread
    # over many partitions so first-round stars exceed the node floor
    rows = []
    for c in range(40):
        base = c * 10
        rows += [(base + i, base + i + 1) for i in range(9)]
        rows.append((base, base + rng.randrange(2, 10)))
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long") \
        .repartition(16)
    expect = {(r.doc_id, r.cluster_id)
              for r in dedup.connected_components(pairs).collect()}
    # every component labeled by its min member
    assert expect == {(c * 10 + i, c * 10)
                      for c in range(40) for i in range(10)}
    # (a) partials + tree-reduce + final fold: direct bound 0 forces the
    # reduce-first shape; bound 450 (>= 400 nodes, < first-round stars)
    # forces at least one tree-reduce round before the fold
    got_tree = {(r.doc_id, r.cluster_id)
                for r in dedup.connected_components(
                    pairs, local_max_edges=450,
                    direct_fold_edges=0).collect()}
    assert got_tree == expect
    # (b) star fallback: bound 1 keeps reducing until one partition,
    # still exceeds the bound, and the distributed loop finishes over
    # the symmetrized star graph
    got_star = {(r.doc_id, r.cluster_id)
                for r in dedup.connected_components(
                    pairs, local_max_edges=1,
                    direct_fold_edges=0).collect()}
    assert got_star == expect


def test_autosize_recover_saturated_monotone_and_budgeted(spark):
    """VERDICT r10 item 2: the sizing helper must consume the sweep's
    priced candidate bill — monotone in budget, never choosing a swept
    sample whose measured bill exceeds the budget, 0 when even the
    smallest sample is over budget, and quadratic-capped when
    extrapolating beyond the swept range."""
    n_copies, cap = 12, 5
    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(i, text) for i in range(n_copies)], "doc_id long, text string")
    sweep = {r["sample"]: r["n_candidate_pairs"]
             for r in dedup.recovery_sample_sweep(
                 docs, max_bucket=cap).collect()}
    assert any(v > 0 for v in sweep.values())  # saturation present
    budgets = [0, 1, 5, 20, 100, 10_000]
    picks = [dedup.autosize_recover_saturated(docs, b, max_bucket=cap)
             for b in budgets]
    # monotone in budget
    assert picks == sorted(picks)
    # respects the measured bill wherever the pick is a swept sample
    for b, p in zip(budgets, picks):
        if p in sweep:
            assert sweep[p] <= b
        elif p > 0:
            # extrapolated: quadratic prediction from the top swept
            # point must fit the budget
            top = max(sweep)
            assert sweep[top] * (p / top) ** 2 <= b * 1.01
    # a budget below the smallest sample's bill turns recovery OFF
    min_bill = sweep[min(sweep)]
    if min_bill > 0:
        assert dedup.autosize_recover_saturated(
            docs, min_bill - 1, max_bucket=cap) == 0
    # the declarative curve agrees with the scalar helper on swept picks
    curve = {r["budget_pairs"]: (r["chosen_sample"], r["bill_pairs"])
             for r in dedup.recovery_autosize_curve(
                 docs, budgets=tuple(budgets), max_bucket=cap).collect()}
    for b in budgets:
        chosen, bill = curve[b]
        fits = [s for s in sorted(sweep) if sweep[s] <= b]
        assert chosen == (fits[-1] if fits else 0)
        assert bill == (sweep.get(chosen, 0))


def test_ingest_dedup_recovery_unblinds_saturated_corpus(spark):
    """VERDICT r10 item 4: on a copy-heavy corpus every shingle bucket
    can exceed the ingest index's cap, so the capped probe classifies a
    near-verbatim batch doc as 'new' — the exact blindness r9 item 3
    fixed for the batch pair path.  recover_saturated threads the same
    thinned-saturated-probe + exact-re-score recipe through the ingest
    join: the doc comes back 'near_dup' with the TRUE jaccard (equal to
    an uncapped run's), at bounded candidate cost."""
    n_copies, cap = 12, 5
    text = ("alpha beta gamma delta epsilon zeta eta theta "
            "iota kappa lambda mu")
    corpus = spark.createDataFrame(
        [(i, text) for i in range(n_copies)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1000, text.replace("mu", "nu"))], "doc_id long, text string")
    capped = dedup.incremental_ingest_dedup(
        corpus, batch, threshold=0.5, max_bucket=cap).collect()[0]
    assert capped.verdict == "new" and capped.n_candidates == 0
    rec = dedup.incremental_ingest_dedup(
        corpus, batch, threshold=0.5, max_bucket=cap,
        recover_saturated=3).collect()[0]
    assert rec.verdict == "near_dup" and rec.n_candidates > 0
    # the recovered score is EXACT: equal to the uncapped run's (all
    # corpus copies are identical, so the jaccard is match-invariant)
    uncapped = dedup.incremental_ingest_dedup(
        corpus, batch, threshold=0.5, max_bucket=10_000).collect()[0]
    assert rec.best_jaccard_ppm == uncapped.best_jaccard_ppm > 500_000
    # exact-dup detection rides the fingerprint path either way
    exact_batch = spark.createDataFrame(
        [(2000, text)], "doc_id long, text string")
    assert dedup.incremental_ingest_dedup(
        corpus, exact_batch, threshold=0.5, max_bucket=cap,
        recover_saturated=3).collect()[0].verdict == "exact_dup"
