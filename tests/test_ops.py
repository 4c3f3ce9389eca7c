"""Tests for the training-data-pipeline operators added on top of the
reference surface: ANN (IVF / LSH vs exact), winnowing fingerprints,
n-gram Jaccard, and the multimodal (image/video/audio) UDF plumbing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


class TestANN:
    def _query(self, emb):
        row = emb.where(F.col("vec_id") == 0).select("embedding").first()
        return [float(x) for x in row["embedding"]]

    def test_ivf_recall_vs_exact(self, spark, emb):
        from hex2vec_spark.operators.knn import cosine_topk, cosine_topk_ivf

        q = self._query(emb)
        rest = emb.where(F.col("vec_id") != 0)
        exact = {r["vec_id"] for r in cosine_topk(rest, q, k=10).collect()}
        approx = {r["vec_id"] for r in cosine_topk_ivf(rest, q, k=10, n_lists=8, n_probe=4).collect()}
        # half the lists probed -> expect decent overlap, never empty
        assert len(approx) == 10
        assert len(exact & approx) >= 4

    def test_ivf_full_probe_equals_exact(self, spark, emb):
        from hex2vec_spark.operators.knn import cosine_topk, cosine_topk_ivf

        q = self._query(emb)
        rest = emb.where(F.col("vec_id") != 0)
        exact = [r["vec_id"] for r in cosine_topk(rest, q, k=10).collect()]
        full = [r["vec_id"] for r in cosine_topk_ivf(rest, q, k=10, n_lists=8, n_probe=8).collect()]
        assert full == exact  # probing every list degenerates to exact

    def test_lsh_probe_subset_of_exact_order(self, spark, emb):
        from hex2vec_spark.operators.knn import cosine_topk_lsh

        q = self._query(emb)
        rest = emb.where(F.col("vec_id") != 0)
        got = cosine_topk_lsh(rest, q, k=10, n_planes=6, probe_hamming=1).collect()
        assert 0 < len(got) <= 10
        sims = [r["sim"] for r in got]
        assert sims == sorted(sims, reverse=True)


class TestIvfIndexAtRest:
    def test_persisted_probe_matches_inline_ivf(self, spark, emb, tmp_path):
        from hex2vec_spark.operators.knn import (
            build_ivf_index, cosine_topk_ivf, query_ivf_index,
        )

        row = emb.where(F.col("vec_id") == 0).select("embedding").first()
        q = [float(x) for x in row["embedding"]]
        rest = emb.where(F.col("vec_id") != 0)
        path = str(tmp_path / "ivf")
        meta = build_ivf_index(rest, path, n_lists=8)
        assert meta["n_lists"] == 8 and len(meta["centroids"]) == 8
        persisted = [
            (r["vec_id"], round(r["sim"], 6))
            for r in query_ivf_index(spark, path, q, k=10, n_probe=4).collect()
        ]
        inline = [
            (r["vec_id"], round(r["sim"], 6))
            for r in cosine_topk_ivf(rest, q, k=10, n_lists=8, n_probe=4).collect()
        ]
        assert persisted == inline  # same centroids/seed -> same lists

    def test_probe_prunes_partitions(self, spark, emb, tmp_path):
        from hex2vec_spark.operators.knn import build_ivf_index
        from tests.test_plans import plan_of

        path = str(tmp_path / "ivf")
        build_ivf_index(emb, path, n_lists=8)
        probe = spark.read.parquet(path).where(F.col("_list").isin([0, 3]))
        plan = plan_of(probe)
        assert "PartitionFilters" in plan and "_list" in plan


class TestAdaptiveSalting:
    def test_detects_planted_hot_cells(self, spark):
        from hex2vec_spark.functions.h3_fns import h3_from_phash_res
        from hex2vec_spark.operators.agg import estimate_heavy_keys
        from hex2vec_spark.sources.synth import images_table

        img = images_table(spark, 3000).withColumn("h3", h3_from_phash_res(9)(F.col("phash")))
        hot = estimate_heavy_keys(img, ["h3"], sample_frac=0.5, hot_share=0.02)
        # FIXTURES: 3 Zipfian hot cells hold ~20% of rows; the largest
        # alone ~12% -> must surface at a 2% share threshold
        assert len(hot) >= 1
        assert max(share for _, share in hot) > 0.05

    def test_adaptive_equals_plain(self, spark):
        from hex2vec_spark.functions.h3_fns import h3_from_phash_res
        from hex2vec_spark.operators.agg import adaptive_salted_count, salted_count
        from hex2vec_spark.sources.synth import images_table

        img = images_table(spark, 3000).withColumn("h3", h3_from_phash_res(9)(F.col("phash")))
        a = adaptive_salted_count(img, ["h3"], salt_src="image_id", sample_frac=0.3).toPandas()
        p = salted_count(img, ["h3"]).toPandas()
        key = lambda d: sorted(map(tuple, d[["h3", "count"]].to_numpy()))
        assert key(a) == key(p)

    def test_no_hot_keys_degenerates_to_plain(self, spark):
        from hex2vec_spark.operators.agg import adaptive_salted_count, salted_count

        c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        # c_custkey is unique -> no key passes any hot threshold
        a = adaptive_salted_count(c, ["c_nationkey"], salt_src="c_custkey", hot_share=0.99).toPandas()
        p = salted_count(c, ["c_nationkey"]).toPandas()
        key = lambda d: sorted(map(tuple, d[["c_nationkey", "count"]].to_numpy()))
        assert key(a) == key(p)


class TestKMeans:
    def test_converges_and_deterministic(self, spark, emb):
        import numpy as np

        from hex2vec_spark.operators.cluster import (
            kmeans_cluster_means, kmeans_fit, kmeans_transform,
        )

        c1, it1 = kmeans_fit(emb, k=5, max_iter=10)
        c2, it2 = kmeans_fit(emb, k=5, max_iter=10)
        assert np.allclose(c1, c2) and it1 == it2  # deterministic
        labeled = kmeans_transform(emb, c1)
        counts = {r["cluster"]: r["count"] for r in labeled.groupBy("cluster").count().collect()}
        assert sum(counts.values()) == emb.count()
        assert len(counts) >= 2  # actually split the data

        # inertia non-increasing across refits with more iterations
        def inertia(cents):
            lab = kmeans_transform(emb, cents).toPandas()
            mat = np.asarray([np.asarray(x, float) for x in lab["embedding"]])
            return float(((mat - cents[lab["cluster"].to_numpy()]) ** 2).sum())

        c_short, _ = kmeans_fit(emb, k=5, max_iter=1)
        assert inertia(c1) <= inertia(c_short) + 1e-6

        means = kmeans_cluster_means(labeled, k=5)
        assert means["n"].sum() == emb.count()
        # per-cluster mean matches a brute-force check on one cluster
        lab_pdf = kmeans_transform(emb, c1).toPandas()
        c0 = lab_pdf[lab_pdf["cluster"] == int(means["cluster"][0])]
        if len(c0):
            brute = np.asarray([np.asarray(x, float) for x in c0["embedding"]]).mean(axis=0)
            got = np.asarray(means["mean_vec"][0])
            assert np.allclose(brute, got, atol=1e-9)


class TestSaltedJoin:
    def test_inner_equals_plain(self, spark):
        from hex2vec_spark.operators.joins import salted_equi_join

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
            "o_orderkey", "o_orderpriority"
        )
        salted = salted_equi_join(li, o, "o_orderkey", salt_src="l_partkey", n_salt=4)
        plain = li.join(o, "o_orderkey")
        cols = ["o_orderkey", "l_linenumber", "o_orderpriority"]
        key = lambda d: sorted(map(tuple, d[cols].to_numpy()))
        assert key(salted.select(*cols).toPandas()) == key(plain.select(*cols).toPandas())

    def test_left_preserves_unmatched(self, spark):
        from hex2vec_spark.operators.joins import salted_equi_join

        c = spark.read.parquet(f"{SF_DIR}/customer.parquet").withColumnRenamed(
            "c_custkey", "o_custkey"
        )
        o = (
            spark.read.parquet(f"{SF_DIR}/orders.parquet")
            .where(F.col("o_totalprice") > 400000)  # leaves unmatched customers
            .select("o_custkey", "o_orderkey")
        )
        salted = salted_equi_join(c, o, "o_custkey", salt_src="c_name", n_salt=4, how="left")
        plain = c.join(o, "o_custkey", "left")
        assert salted.count() == plain.count()
        s_null = salted.where(F.col("o_orderkey").isNull()).count()
        p_null = plain.where(F.col("o_orderkey").isNull()).count()
        assert s_null == p_null and s_null > 0

    def test_salt_is_a_join_key(self, spark):
        from hex2vec_spark.operators.joins import salted_equi_join
        from tests.test_plans import plan_of

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumnRenamed(
            "l_orderkey", "o_orderkey"
        )
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_orderkey")
        plan = plan_of(salted_equi_join(li, o, "o_orderkey", salt_src="l_partkey"))
        assert "_salt" in plan  # the shuffle re-keys on (key, salt)


class TestKnnCentroidsPruned:
    def test_equals_exact_scan(self, spark):
        from hex2vec_spark.operators.knn import knn_cell_centroids, knn_cell_centroids_pruned
        from hex2vec_spark.operators.spatial import assign_h3
        from hex2vec_spark.sources.synth import images_table

        corpus = assign_h3(images_table(spark, 2000), res=8)
        for q in [(41.0, 15.5), (40.2, 12.1), (44.9, 19.9)]:
            exact = [(r["h3"], round(r["dist_m"], 3)) for r in
                     knn_cell_centroids(corpus, q, k=8).collect()]
            pruned = [(r["h3"], round(r["dist_m"], 3)) for r in
                      knn_cell_centroids_pruned(corpus, q, k=8, res=8).collect()]
            assert pruned == exact

    def test_distant_annulus_corpus(self, spark):
        # stress the ring-expansion exit bound: every corpus cell sits in
        # a thin annulus far from the query, so the k-th hit stays close
        # to the outside-ring bound for several expansion rounds; the
        # result must still equal the exact scan (including queries that
        # force the max_ring exact fallback)
        import numpy as np
        import pandas as pd

        from hex2vec_spark.hexlib import h3core
        from hex2vec_spark.operators.knn import knn_cell_centroids, knn_cell_centroids_pruned

        rng = np.random.default_rng(3)
        # annulus 0.5-0.7 deg from (41, 15.5): ~6-9 res-5 parent rings
        theta = rng.uniform(0, 2 * np.pi, 400)
        rad = rng.uniform(0.5, 0.7, 400)
        lat = 41.0 + rad * np.sin(theta)
        lng = 15.5 + rad * np.cos(theta) / np.cos(np.radians(41.0))
        cells = np.unique(h3core.encode(lat, lng, 8))
        corpus = spark.createDataFrame(pd.DataFrame({"h3": cells.view(np.int64)}))
        for q, gap in [((41.0, 15.5), 3), ((41.0, 15.5), 2)]:
            exact = [(r["h3"], round(r["dist_m"], 3)) for r in
                     knn_cell_centroids(corpus, q, k=8).collect()]
            pruned = [(r["h3"], round(r["dist_m"], 3)) for r in
                      knn_cell_centroids_pruned(corpus, q, k=8, res=8, prefix_gap=gap).collect()]
            assert pruned == exact


class TestRingDistortionConstants:
    def test_ring_distortion_constants_hold(self):
        # the pruned-kNN early-stop derates its lattice bound by
        # measured per-res worst cases (_RING_DISTORTION). Re-measure on
        # a fixed global sample and assert the embedded constants stay
        # BELOW the observed minima — if the grid/encode changes and
        # distortion worsens, this fails rather than silently returning
        # wrong top-k.
        from hex2vec_spark.hexlib import geom, h3core
        from hex2vec_spark.hexlib import icosa as ic
        from hex2vec_spark.operators.knn import _RING_DISTORTION

        rng = np.random.default_rng(5)
        # round-3 advisor strengthening: the operator stops on rings up
        # to max_ring=8, and the worst distortion sits on base-cell
        # seams — so measure rings 2..8 on random points PLUS a
        # seam-dense set (midpoints of every nearby base-cell center
        # pair: 360 points that straddle icosahedron edges/vertices).
        mids = []
        bc = ic.BC_CENTER
        for i in range(122):
            for j in range(i + 1, 122):
                if bc[i] @ bc[j] > np.cos(0.45):
                    m = bc[i] + bc[j]
                    mids.append(m / np.linalg.norm(m))
        mids = np.array(mids)
        slat = np.degrees(np.arcsin(mids[:, 2]))
        slng = np.degrees(np.arctan2(mids[:, 1], mids[:, 0]))
        # pres 6 is the engine's DEFAULT pruning path (res 9 corpus,
        # prefix_gap 3); cover every constant the operator can pick for
        # its common configurations
        for pres in (2, 3, 5, 6, 7, 8):
            edge_p = h3core.edge_length_m(pres)
            lat = np.concatenate([np.degrees(np.arcsin(rng.uniform(-1, 1, 60))), slat])
            lng = np.concatenate([rng.uniform(-180, 180, 60), slng])
            qpar = h3core.encode(lat, lng, pres)
            worst = np.inf
            for i in range(len(lat)):
                qp = np.array([qpar[i]], dtype=np.uint64)
                prev = {int(qp[0])}
                for r in range(1, 9):
                    cur = set(int(x) for x in h3core.kring(qp, r)[0])
                    outer = cur - prev
                    prev = cur
                    if r < 2 or not outer:
                        continue
                    bound = (1.5 * r - 2.0) * edge_p  # parents at dist >= r
                    cells = np.array(sorted(outer), dtype=np.uint64)
                    cl, cg = h3core.cell_center(cells)
                    d = geom.haversine_m(cl, cg, lat[i], lng[i])
                    worst = min(worst, float(d.min()) / bound)
            assert _RING_DISTORTION[pres] <= worst, (pres, worst)


class TestPlantedDups:
    def test_minhash_finds_planted_near_dup(self, spark):
        from hex2vec_spark.operators.dedup import minhash_lsh_pairs

        base = ("the quick brown fox jumps over the lazy dog and then runs far "
                "away into the deep green forest to hide from every hunter")
        df = spark.createDataFrame(
            pd.DataFrame({
                "doc_id": [1, 2, 3],
                "text": [base, base.replace("hunter", "tracker"),
                         "an entirely different document about spark shuffles and parquet files"],
            })
        )
        pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df).collect()}
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_minhash_reliable_checkpoint_identical(self, spark, tmp_path):
        # round-4: checkpoint_dir routes the signature materialization
        # through a reliable df.checkpoint() — same pairs, files on disk
        import os

        from hex2vec_spark.operators.dedup import minhash_lsh_pairs

        base = ("the quick brown fox jumps over the lazy dog and then runs far "
                "away into the deep green forest to hide from every hunter")
        df = spark.createDataFrame(
            pd.DataFrame({
                "doc_id": [1, 2, 3],
                "text": [base, base.replace("hunter", "tracker"),
                         "an entirely different document about spark shuffles"],
            })
        )
        ckdir = str(tmp_path / "ck")
        got = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(df, checkpoint_dir=ckdir).collect()
        }
        assert (1, 2) in got and (1, 3) not in got
        assert [f for _, _, fs in os.walk(ckdir) for f in fs]

    def test_phash_near_dup_recall_guarantee(self, spark):
        # round-1 recall hole: single top-16-bit bucket missed any pair
        # whose differing bits touched the prefix. The pigeonhole
        # multi-band design must find pairs wherever the <=max_hamming
        # flipped bits fall — including all inside the old prefix.
        from hex2vec_spark.operators.dedup import phash_near_dup

        def i64(v):  # signed-wraparound so bit-63 flips stay in int64
            return v - (1 << 64) if v >= (1 << 63) else v

        base = 0x5A5A_1234_ABCD_9876
        rows = [
            ("a0", i64(base)),
            ("a1", i64(base ^ (1 << 63) ^ (1 << 55))),  # flips inside old prefix
            ("a2", i64(base ^ (1 << 50) ^ (1 << 3))),    # straddles bands
            ("a3", i64(base ^ 0b111111)),                # 6 flips, low bits
            ("b0", i64(~base & 0xFFFFFFFFFFFFFFFF)),     # far away (all bits flip)
        ]
        df = spark.createDataFrame(
            pd.DataFrame({"image_id": [r[0] for r in rows],
                          "phash": np.array([r[1] for r in rows], dtype=np.int64)})
        )
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in phash_near_dup(df, max_hamming=6).collect()}
        assert ("a0", "a1") in got and got[("a0", "a1")] == 2
        assert ("a0", "a2") in got and got[("a0", "a2")] == 2
        assert ("a0", "a3") in got and got[("a0", "a3")] == 6
        assert not any("b0" in k for k in got)

    def test_phash_near_dup_exact_vs_bruteforce(self, spark):
        # banded pairs == brute-force pairs on a random corpus (recall
        # AND precision; `distinct` must fold multi-band collisions)
        from hex2vec_spark.operators.dedup import phash_near_dup

        rng = np.random.default_rng(42)
        base = rng.integers(0, 2**62, size=40, dtype=np.int64)
        # plant near-dups of half of them with 1..6 random bit flips
        planted = []
        for i in range(20):
            v = int(base[i])
            for b in rng.choice(63, size=int(rng.integers(1, 7)), replace=False):
                v ^= 1 << int(b)
            planted.append(v)
        ph = np.concatenate([base, np.array(planted, dtype=np.int64)])
        ids = [f"i{k:03d}" for k in range(len(ph))]
        df = spark.createDataFrame(pd.DataFrame({"image_id": ids, "phash": ph}))
        got = {(r["id_a"], r["id_b"]) for r in phash_near_dup(df, max_hamming=6).collect()}
        want = set()
        for i in range(len(ph)):
            for j in range(i + 1, len(ph)):
                if bin((int(ph[i]) ^ int(ph[j])) & (2**64 - 1)).count("1") <= 6:
                    want.add((ids[i], ids[j]))
        assert got == want and len(want) >= 15

    def test_embedding_near_dup_straddle_recall(self, spark):
        # round-2 recall hole: a single AND-only 8-plane table keeps a
        # cosine-0.95 pair only with p^8 ~ 0.43. Plant pairs that
        # straddle EXACTLY one hyperplane of table 0 (the old single
        # table) — the old design misses 100% of them by construction;
        # the banded OR over 8 tables must recover essentially all.
        from hex2vec_spark.operators.dedup import embedding_near_dup

        dim, n_planes, n_tables, seed = 16, 8, 8, 7
        rng_planes = np.random.default_rng(seed)
        planes = rng_planes.standard_normal((n_tables, n_planes, dim))
        t0 = planes[0] / np.linalg.norm(planes[0], axis=1, keepdims=True)

        rng = np.random.default_rng(123)
        ids, vecs, planted = [], [], []
        for k in range(30):
            p = t0[k % n_planes]
            v = rng.standard_normal(dim)
            v_par = v - (v @ p) * p          # project onto plane k%8
            v_par /= np.linalg.norm(v_par)
            eps = 0.05                        # cos(u1,u2) ~ (1-eps^2)/(1+eps^2) ~ 0.995
            u1, u2 = v_par + eps * p, v_par - eps * p
            # straddle check: the pair differs in bit k%8 of table 0, so
            # the old single-table bucket keys differ -> old design
            # misses this pair with certainty
            s1 = (t0 @ u1) >= 0
            s2 = (t0 @ u2) >= 0
            assert s1[k % n_planes] != s2[k % n_planes]
            ids += [2 * k, 2 * k + 1]
            vecs += [u1.tolist(), u2.tolist()]
            planted.append((2 * k, 2 * k + 1))
        # noise rows far from everything
        for k in range(60, 100):
            w = rng.standard_normal(dim)
            ids.append(k + 100)
            vecs.append((w / np.linalg.norm(w)).tolist())
        df = spark.createDataFrame(
            pd.DataFrame({"vec_id": ids, "embedding": vecs})
        )
        got = {(r["id_a"], r["id_b"]) for r in embedding_near_dup(
            df, threshold=0.95, n_planes=n_planes, n_tables=n_tables, seed=seed
        ).collect()}
        found = sum(1 for pr in planted if pr in got)
        # single-table expectation on these straddle pairs: 0 found.
        assert found >= 28, f"banded OR recall too low: {found}/30"
        # precision: verify stage guarantees every reported pair qualifies
        vec_by_id = dict(zip(ids, [np.array(v) for v in vecs]))
        for a, b in got:
            va, vb = vec_by_id[a], vec_by_id[b]
            assert va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)) >= 0.95 - 1e-9

    def test_simhash_hamming_close_for_near_dup(self, spark):
        from hex2vec_spark.operators.dedup import simhash_udf

        base = ("the quick brown fox jumps over the lazy dog and then runs far "
                "away into the deep green forest to hide from every hunter")
        df = spark.createDataFrame(
            pd.DataFrame({
                "doc_id": [1, 2, 3],
                "text": [base, base.replace("hunter", "tracker"),
                         "完全 different words entirely unrelated content about databases"],
            })
        )
        got = {r["doc_id"]: r["sh"] for r in
               df.select("doc_id", simhash_udf()(F.col("text")).alias("sh")).collect()}
        d12 = bin((got[1] ^ got[2]) & 0xFFFFFFFFFFFFFFFF).count("1")
        d13 = bin((got[1] ^ got[3]) & 0xFFFFFFFFFFFFFFFF).count("1")
        assert d12 <= 8 < d13


def _near_dup_reference(ids, V, threshold, n_planes, n_tables, seed):
    """NumPy reference for embedding_near_dup over non-null vectors: the
    same planes, every dot and norm summed left to right over the dims
    (Catalyst's aggregate(zip_with) order), OR over the tables, pairs
    with id_a < id_b and cosine >= threshold, distinct."""
    n, dim = V.shape
    planes = np.random.default_rng(seed).standard_normal((n_tables, n_planes, dim))
    keys = np.zeros((n_tables, n), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            d = np.zeros(n)
            for k in range(dim):
                d = d + V[:, k] * planes[t, p, k]
            keys[t] = 2 * keys[t] + (d >= 0)
    sq = np.zeros(n)
    for k in range(dim):
        sq = sq + V[:, k] * V[:, k]
    nrm = np.sqrt(sq)
    ia, ib = np.nonzero(
        np.array([[x < y for y in ids] for x in ids])
        & (keys[:, :, None] == keys[:, None, :]).any(axis=0)
    )
    dot = np.zeros(len(ia))
    for k in range(dim):
        dot = dot + V[ia, k] * V[ib, k]
    cos = dot / (nrm[ia] * nrm[ib])
    keep = cos >= threshold
    return {(ids[a], ids[b], float(c)) for a, b, c in zip(ia[keep], ib[keep], cos[keep])}


class TestEmbeddingNearDupKernels:
    @pytest.mark.parametrize(
        "dim,n_planes,n_tables,seed,threshold,id_kind",
        [
            (16, 4, 8, 7, 0.35, "long"),
            (5, 3, 2, 11, 0.6, "string"),
            (64, 8, 8, 3, 0.2, "long"),
            (24, 2, 3, 19, 0.5, "float32"),
        ],
    )
    def test_equals_numpy_reference(self, spark, dim, n_planes, n_tables, seed, threshold, id_kind):
        # exact semantics, cosine compared with ==: clustered vectors so
        # buckets hold pairs on both sides of the threshold, shuffled ids
        # (string ids compare as strings: "10" < "9") with one repeated
        # id, one null vector and one vector with a null element
        from hex2vec_spark.operators.dedup import embedding_near_dup

        rng = np.random.default_rng(seed + 100)
        n = 160
        centers = rng.standard_normal((12, dim))
        V = centers[rng.integers(0, 12, n)] + 0.8 * rng.standard_normal((n, dim))
        if id_kind == "float32":
            V = V.astype(np.float32).astype(np.float64)
        ids = rng.permutation(10 * n)[: n + 2].tolist()
        ids[5] = ids[3]
        if id_kind == "string":
            ids = [str(i) for i in ids]
        vec_type = "float" if id_kind == "float32" else "double"
        id_type = "string" if id_kind == "string" else "long"
        rows = [(i, v.tolist()) for i, v in zip(ids, V)] + [
            (ids[n], None),
            (ids[n + 1], [None] + V[0, 1:].tolist()),
        ]
        df = spark.createDataFrame(
            rows, f"vec_id {id_type}, embedding array<{vec_type}>"
        ).repartition(3)
        got = embedding_near_dup(
            df, threshold=threshold, n_planes=n_planes, n_tables=n_tables, seed=seed
        )
        id_t = df.schema["vec_id"].dataType.simpleString()
        assert got.schema.simpleString() == f"struct<id_a:{id_t},id_b:{id_t},cosine:double>"
        got_rows = [(r["id_a"], r["id_b"], r["cosine"]) for r in got.collect()]
        want = _near_dup_reference(ids[:n], V, threshold, n_planes, n_tables, seed)
        assert len(want) >= 10
        assert len(got_rows) == len(set(got_rows))
        assert set(got_rows) == want

    def test_hot_bucket_all_pairs_over_many_chunks(self, spark):
        # ~3,000 vectors in a narrow cone: every table puts them all in
        # one bucket, so one verify call sees 4.5M candidate pairs and
        # must split them across several bounded chunks
        from hex2vec_spark.operators import dedup

        n, dim, n_planes, n_tables, seed = 3000, 8, 4, 2, 5
        assert n * (n - 1) // 2 > 3 * dedup._VERIFY_CHUNK_CELLS
        planes = np.random.default_rng(seed).standard_normal((n_tables * n_planes, dim))
        unit = planes / np.linalg.norm(planes, axis=1, keepdims=True)
        rng = np.random.default_rng(1)
        u = rng.standard_normal(dim)
        while np.abs(unit @ (u / np.linalg.norm(u))).min() < 0.1:
            u = rng.standard_normal(dim)
        u /= np.linalg.norm(u)
        V = u + 1e-3 * rng.standard_normal((n, dim))
        assert (np.sign(V @ planes.T) == np.sign(u @ planes.T)).all()  # one bucket per table
        ids = rng.permutation(n).tolist()
        # the threshold keeps ~2,000 of the 4.5M pairs
        order = np.argsort(ids)
        Vs = V[order]
        sq = np.zeros(n)
        for k in range(dim):
            sq = sq + Vs[:, k] * Vs[:, k]
        nrm = np.sqrt(sq)
        ia, ib = np.triu_indices(n, 1)
        dot = np.zeros(len(ia))
        for k in range(dim):
            dot = dot + Vs[ia, k] * Vs[ib, k]
        cos = dot / (nrm[ia] * nrm[ib])
        threshold = float(np.sort(cos)[-2000])
        keep = cos >= threshold
        want = set(zip(ia[keep].tolist(), ib[keep].tolist(), cos[keep].tolist()))
        df = spark.createDataFrame(
            pd.DataFrame({"vec_id": ids, "embedding": V.tolist()})
        )
        got = dedup.embedding_near_dup(
            df, threshold=threshold, n_planes=n_planes, n_tables=n_tables, seed=seed
        ).collect()
        assert len(got) == len(want) >= 2000
        assert {(r["id_a"], r["id_b"], r["cosine"]) for r in got} == want

    def test_ragged_vectors_raise(self, spark):
        from hex2vec_spark.operators.dedup import embedding_near_dup

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
        ).coalesce(1)
        with pytest.raises(Exception, match="vectors of one length"):
            embedding_near_dup(df, threshold=0.5).collect()


class TestKnnQueryFetch:
    def test_spark_written_directory_matches_single_file(self, spark, tmp_path):
        # the pyarrow shortcut reads only a local single parquet file; a
        # Spark-written directory of the same rows takes the Spark fetch
        import os

        import __spark_entry__ as entry

        sf_dir = str(tmp_path / "sf")
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet").write.parquet(
            f"{sf_dir}/embeddings.parquet"
        )
        assert os.path.isfile(f"{SF_DIR}/embeddings.parquet")
        assert not os.path.isfile(f"{sf_dir}/embeddings.parquet")
        q = entry.queries()["knn_bruteforce"]
        want = q(spark, SF_DIR).collect()
        assert len(want) == 10
        assert q(spark, sf_dir).collect() == want


class TestGlobalEncodeQuery:
    def test_base_cell_counts_match_kernel(self, spark):
        # the DuckDB gate checks global_hybrid_assign rows-only (H3 is
        # not SQL-expressible); its per-base-cell counts must equal the
        # NumPy kernel's over the same phash column
        import __spark_entry__ as entry
        from hex2vec_spark.functions.h3_fns import h3_from_phash_np

        got = entry.queries()["global_hybrid_assign"](spark, SF_DIR).collect()
        ph = np.array(
            [r[0] for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
             .select(F.xxhash64(F.col("event_id").cast("long"))).collect()],
            dtype=np.int64,
        )
        cells = h3_from_phash_np(ph, 8, (-60.0, 60.0, -170.0, 170.0)).view(np.uint64)
        bc, n = np.unique((cells >> np.uint64(45)) & np.uint64(127), return_counts=True)
        assert [(r["base_cell"], r["n"]) for r in got] == list(zip(bc.tolist(), n.tolist()))


class TestWinnow:
    def test_shared_run_shares_fingerprint(self, spark):
        from hex2vec_spark.operators.text import winnow_fingerprints

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        df = spark.createDataFrame(
            pd.DataFrame({
                "doc_id": [1, 2, 3],
                "text": [
                    "PREFIX one two " + base,
                    base + " SUFFIX other words here",
                    "completely different words with no overlap at all whatsoever",
                ],
            })
        )
        fps = winnow_fingerprints(df).toPandas()
        s1 = set(fps[fps.doc_id == 1]["fp"])
        s2 = set(fps[fps.doc_id == 2]["fp"])
        s3 = set(fps[fps.doc_id == 3]["fp"])
        assert s1 & s2  # long shared run -> shared fingerprint
        assert not (s1 & s3) and not (s2 & s3)

    def test_deterministic(self, spark):
        from hex2vec_spark.operators.text import winnow_fingerprints

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
        a = sorted(map(tuple, winnow_fingerprints(d).collect()))
        b = sorted(map(tuple, winnow_fingerprints(d).collect()))
        assert a == b and len(a) > 0


class TestNgramJaccard:
    def test_planted_near_dup_found(self, spark):
        from hex2vec_spark.operators.dedup import ngram_jaccard_pairs

        df = spark.createDataFrame(
            pd.DataFrame({
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog today",
                    "the quick brown fox jumps over the lazy dog tonight",
                    "unrelated text entirely about something else completely",
                ],
            })
        )
        pairs = ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
        assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
        assert 0.5 <= pairs[0]["jaccard"] < 1.0


class TestTextOps:
    def test_bpe_regex_tokens_exact(self, spark):
        from hex2vec_spark.operators.text import bpe_token_count

        df = spark.createDataFrame(
            [("a", "Hello, world 42!"), ("b", "don't-stop"), ("c", "   x   ")],
            "id string, text string",
        )
        got = {r["id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
               for r in bpe_token_count(df).collect()}
        # Hello , world 42 !  -> 5 ; don ' t - stop -> 5 ; x -> 1
        assert got == {"a": (3, 5), "b": (1, 5), "c": (1, 1)}

    def test_lang_id_ngram_separates_real_text(self, spark):
        from hex2vec_spark.operators.text import lang_id_ngram

        rows = [
            ("en1", "The weather in the north of England is often rather wet and windy."),
            ("en2", "There is another train at the end of the other platform."),
            ("zh1", "火车站在城市的另一边，需要坐地铁过去。"),
            ("pl1", "Szybki rydz przez gąszcz krzaków, pójdźże wgłąb."),
        ]
        df = spark.createDataFrame(rows, "id string, text string")
        got = {r["id"]: r["lang_pred_ngram"] for r in lang_id_ngram(df).collect()}
        assert got["en1"] == "en" and got["en2"] == "en"
        assert got["zh1"] == "other" and got["pl1"] == "other"


class TestMultimodal:
    @pytest.fixture(scope="class")
    def images(self, spark):
        from hex2vec_spark.sources.synth import images_table

        return images_table(spark, 40).cache()

    def test_resize_roundtrip(self, spark, images):
        from hex2vec_spark.functions.multimodal import resize_images
        from hex2vec_spark.hexlib import image as im

        out = resize_images(images, out_w=8, out_h=8).collect()
        assert len(out) == 40
        for r in out:
            px = im.png_decode(bytes(r["bytes_small"]))
            assert px.shape == (8, 8, 3)

    def test_resize_preserves_mean(self, spark, images):
        # area-average resize preserves the global mean within rounding
        from hex2vec_spark.functions.multimodal import resize_images
        from hex2vec_spark.functions.image_fns import image_stats
        from pyspark.sql import functions as F

        orig = images.select("image_id", image_stats(F.col("bytes"), F.col("fmt")).alias("s"))
        small = resize_images(images, 8, 8)
        sm = small.select("image_id", image_stats(F.col("bytes_small"), F.col("fmt")).alias("s"))
        j = (
            orig.select("image_id", F.col("s.mean_r").alias("r0"))
            .join(sm.select("image_id", F.col("s.mean_r").alias("r1")), "image_id")
            .collect()
        )
        for r in j:
            assert abs(r["r0"] - r["r1"]) < 2.0

    def test_upscale_replicates_not_black(self, spark, images):
        # upscaling used to emit black stripes (zero-width area bins)
        import numpy as np

        from hex2vec_spark.functions.multimodal import resize_images
        from hex2vec_spark.hexlib import image as im

        out = resize_images(images, out_w=64, out_h=64).collect()
        src = {r["image_id"]: r for r in images.collect()}
        for r in out[:10]:
            big = im.png_decode(bytes(r["bytes_small"])).astype(np.float64)
            orig = im.decode_image(bytes(src[r["image_id"]]["bytes"]),
                                   src[r["image_id"]]["fmt"]).astype(np.float64)
            # replication preserves the mean and leaves no zero rows
            assert abs(big.mean() - orig.mean()) < 3.0
            assert (big.reshape(64, -1).max(axis=1) > 0).all()

    def test_frame_sample_deterministic_plumbing(self, spark, images):
        # fake path: opaque (non-video) payloads still flow through the
        # same explode plumbing with deterministic pseudo-phashes
        from hex2vec_spark.functions.multimodal import sample_frames

        a = sample_frames(images, n_frames=3, fake=True).toPandas().sort_values(["image_id", "frame_idx"])
        b = sample_frames(images, n_frames=3, fake=True).toPandas().sort_values(["image_id", "frame_idx"])
        assert len(a) == 40 * 3
        pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))
        assert set(a.columns) == {"image_id", "frame_idx", "t_ms", "frame_phash"}

    def test_frame_sample_real_path_rejects_non_video(self, spark, images):
        # real decode (round 4) rejects non-Y4M payloads loudly instead
        # of faking features for them
        from hex2vec_spark.functions.multimodal import frame_sample_udf
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PythonException

        df = images.select(frame_sample_udf(n_frames=2, fake=False)(F.col("bytes")))
        with pytest.raises((Py4JJavaError, PythonException)):
            df.collect()

    @pytest.fixture(scope="class")
    def videos(self, spark):
        import pandas as pd

        from hex2vec_spark.hexlib.video import synth_y4m_bytes

        return spark.createDataFrame(
            pd.DataFrame({
                "image_id": [f"v{i:03d}" for i in range(12)],
                "bytes": [
                    synth_y4m_bytes(i, n_frames=10, w=32, h=24, fps=(30, 1))
                    for i in range(12)
                ],
            })
        ).cache()

    def test_frame_sample_real_y4m_matches_local_decode(self, spark, videos):
        # round 4: REAL video decode — the Spark-side per-frame pHashes
        # and timestamps must equal a driver-local y4m_decode + phash64
        # over the same uniformly-sampled indices
        import numpy as np

        from hex2vec_spark.functions.multimodal import sample_frames
        from hex2vec_spark.hexlib.image import phash64
        from hex2vec_spark.hexlib.video import synth_y4m_bytes, y4m_decode

        out = sample_frames(videos, n_frames=4).toPandas()
        assert len(out) == 12 * 4
        for vid in (0, 5, 11):
            b = synth_y4m_bytes(vid, n_frames=10, w=32, h=24, fps=(30, 1))
            idx = (np.arange(4) * 10) // 4  # [0, 2, 5, 7]
            frames = y4m_decode(b, indices=idx)
            got = out[out.image_id == f"v{vid:03d}"].sort_values("frame_idx")
            assert list(got.frame_idx) == list(idx)
            # t_ms from the stream's own 30fps rate, not a default
            assert list(got.t_ms) == [int(round(i * 1000.0 / 30.0)) for i in idx]
            assert list(got.frame_phash) == [phash64(frames[j]) for j in range(4)]

    def test_frame_sample_clamps_to_available_frames(self, spark):
        import pandas as pd

        from hex2vec_spark.functions.multimodal import sample_frames
        from hex2vec_spark.hexlib.video import synth_y4m_bytes

        short = spark.createDataFrame(
            pd.DataFrame({"image_id": ["s"],
                          "bytes": [synth_y4m_bytes(1, n_frames=2)]})
        )
        got = sample_frames(short, n_frames=8).toPandas()
        assert sorted(got.frame_idx) == [0, 1]  # no fabricated frames

    def test_extract_frames_feeds_image_pipeline(self, spark, videos):
        # the video->image bridge: sampled frames re-encoded as PNG are
        # pixel-exact vs local decode and compose with image operators
        from hex2vec_spark.functions.image_fns import image_stats
        from hex2vec_spark.functions.multimodal import extract_frames
        from hex2vec_spark.hexlib.image import png_decode
        from hex2vec_spark.hexlib.video import synth_y4m_bytes, y4m_decode
        import numpy as np

        frames = extract_frames(videos, n_frames=3).cache()
        pdf = frames.toPandas()
        assert len(pdf) == 12 * 3
        assert set(pdf.fmt) == {"png"} and set(pdf.w) == {32} and set(pdf.h) == {24}
        row = pdf[(pdf.image_id == "v003") & (pdf.frame_idx == 3)].iloc[0]
        ref = y4m_decode(
            synth_y4m_bytes(3, n_frames=10, w=32, h=24, fps=(30, 1)), indices=[3]
        )[0]
        assert np.array_equal(png_decode(bytes(row["bytes"])), ref)  # lossless PNG
        # image operators accept the bridge output as-is
        stats = frames.select(
            "image_id", "frame_idx",
            image_stats(F.col("bytes"), F.col("fmt")).alias("s"),
        ).collect()
        assert len(stats) == 36 and all(0 <= r["s"]["mean_r"] <= 255 for r in stats)

    def test_audio_features_shape(self, spark, images):
        # the fake path (opaque non-WAV payloads): plumbing over image bytes
        from hex2vec_spark.functions.multimodal import audio_features_udf

        rows = images.select(
            "image_id", audio_features_udf(n_mfcc=4, fake=True)(F.col("bytes")).alias("a")
        ).collect()
        for r in rows:
            assert r["a"]["duration_s"] > 0
            assert 0.0 <= r["a"]["rms"] <= 1.0
            assert len(r["a"]["mfcc"]) == 4

    def test_audio_features_real_wav_path(self, spark):
        # round 2: REAL decode — stdlib-wave PCM parse + NumPy MFCC. The
        # WAV fixtures are deterministic sines, so duration and RMS are
        # checked against closed-form values and MFCCs must separate
        # clips with different spectra.
        import pandas as pd

        from hex2vec_spark.functions.multimodal import (
            _mfcc, _wav_parse, audio_features_udf, synth_wav_bytes,
        )

        clips = spark.createDataFrame(
            pd.DataFrame({"clip_id": [0, 1, 2, 16],
                          "bytes": [synth_wav_bytes(i) for i in (0, 1, 2, 16)]})
        )
        rows = {r["clip_id"]: r["a"] for r in clips.select(
            "clip_id", audio_features_udf(n_mfcc=6, fake=False)(F.col("bytes")).alias("a")
        ).collect()}
        for cid, a in rows.items():
            assert abs(a["duration_s"] - 0.5) < 1e-9
            # rms of g*sin(f1) + 0.3*sin(f2) ~ sqrt(g^2/2 + 0.09/2)
            g = 0.3 + 0.4 * ((cid % 7) / 6.0)
            expect_rms = np.sqrt(g * g / 2.0 + 0.09 / 2.0)
            assert abs(a["rms"] - expect_rms) < 0.02
            assert len(a["mfcc"]) == 6 and all(np.isfinite(a["mfcc"]))
        # different tones -> different cepstra; same tone -> identical
        assert rows[0]["mfcc"] != rows[1]["mfcc"]
        # Spark result equals the local kernel exactly (same code path)
        x, rate = _wav_parse(synth_wav_bytes(2))
        np.testing.assert_allclose(rows[2]["mfcc"], _mfcc(x, rate, 6), rtol=1e-12)

    def test_wav_parse_formats(self):
        # 8-bit and stereo WAVs parse too (width/channel handling)
        import io
        import wave

        from hex2vec_spark.functions.multimodal import _wav_parse

        t = np.arange(800) / 8000.0
        x = np.sin(2 * np.pi * 440 * t)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(8000)
            stereo = np.stack([x, -x], axis=1)
            w.writeframes(np.round(stereo * 32767).astype("<i2").tobytes())
        y, rate = _wav_parse(buf.getvalue())
        assert rate == 8000 and len(y) == 800
        assert np.abs(y).max() < 1e-4  # L/R cancel in the mono mixdown

        buf8 = io.BytesIO()
        with wave.open(buf8, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(1)
            w.setframerate(8000)
            w.writeframes((np.round(x * 127) + 128).astype("u1").tobytes())
        y8, _ = _wav_parse(buf8.getvalue())
        assert abs(float(np.sqrt(np.mean(y8**2))) - np.sqrt(0.5)) < 0.02


class TestAsofJoin:
    def test_semantics_pinned(self, spark):
        # ASOF LEFT JOIN edge cases: equal-timestamp right row QUALIFIES
        # (<=), left rows before any right get NULLs, carry-forward
        # spans gaps, keys never mix.
        from hex2vec_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, "u", 5), (2, "u", 10), (3, "u", 20), (4, "v", 7), (5, "w", 9)],
            "id long, k string, ts long",
        )
        right = spark.createDataFrame(
            [("u", 10, 100.0), ("u", 15, 150.0), ("v", 1, 11.0), ("v", 6, 66.0)],
            "k string, ts long, price double",
        )
        out = {r["id"]: (r["asof_ts"], r["asof_price"]) for r in asof_join(
            left, right, by="k", left_time="ts", right_time="ts",
            right_payload=["price"],
        ).collect()}
        assert out[1] == (None, None)          # before any right row
        assert out[2] == (10, 100.0)           # equal ts qualifies
        assert out[3] == (15, 150.0)           # latest prior, not first
        assert out[4] == (6, 66.0)             # per-key isolation
        assert out[5] == (None, None)          # key with no right rows

    def test_matches_pandas_merge_asof_on_random_data(self, spark):
        # independent oracle: pandas merge_asof(direction='backward',
        # allow_exact_matches=True) has exactly ASOF LEFT JOIN semantics
        from hex2vec_spark.operators.asof import asof_join

        rng = np.random.default_rng(11)
        nl, nr = 400, 150
        lk = rng.integers(0, 8, nl)
        lt = rng.integers(0, 1000, nl)
        rk = rng.integers(0, 10, nr)  # some keys have no right rows
        rt = rng.integers(0, 1000, nr)
        left = pd.DataFrame({"id": np.arange(nl), "k": lk, "ts": lt})
        right = (
            pd.DataFrame({"k": rk, "ts": rt, "v": rng.standard_normal(nr)})
            .groupby(["k", "ts"], as_index=False).agg(v=("v", "max"))
        )
        exp = pd.merge_asof(
            left.sort_values("ts", kind="stable"),
            right.sort_values("ts", kind="stable"),
            on="ts", by="k", direction="backward", allow_exact_matches=True,
        ).set_index("id")
        got = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            by="k", right_payload=["v"],
        ).toPandas().set_index("id")
        for i in range(nl):
            ev, gv = exp.loc[i, "v"], got.loc[i, "asof_v"]
            assert (pd.isna(ev) and pd.isna(gv)) or ev == gv, (i, ev, gv)

    def test_null_timestamps_never_match(self, spark):
        # round-4 advisor fix: NULL right timestamps used to sort FIRST
        # (asc NULLS FIRST, side 0) and poison every left row before the
        # first real match; DuckDB ASOF and pandas merge_asof never
        # match NULLs. Left NULL timestamps get a NULL payload.
        from hex2vec_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, "u", 5), (2, "u", 20), (3, "u", None)],
            "id long, k string, ts long",
        )
        right = spark.createDataFrame(
            [("u", None, -1.0), ("u", 10, 100.0)],
            "k string, ts long, v double",
        )
        for direction in ("backward", "forward"):
            out = {r["id"]: (r["asof_ts"], r["asof_v"]) for r in asof_join(
                left, right, by="k", right_payload=["v"], direction=direction,
            ).collect()}
            assert out[3] == (None, None), (direction, out)  # NULL left ts
            if direction == "backward":
                assert out[1] == (None, None)   # before any REAL right row
                assert out[2] == (10, 100.0)
            else:
                assert out[1] == (10, 100.0)
                assert out[2] == (None, None)   # after the last right row

    @pytest.mark.parametrize("direction,exact", [
        ("backward", False), ("forward", True), ("forward", False),
        ("nearest", True), ("nearest", False),
    ])
    def test_variants_match_pandas_merge_asof(self, spark, direction, exact):
        # round-4: the full merge_asof surface, each variant vs pandas
        from hex2vec_spark.operators.asof import asof_join

        rng = np.random.default_rng(13)
        nl, nr = 300, 120
        left = pd.DataFrame({
            "id": np.arange(nl),
            "k": rng.integers(0, 8, nl),
            "ts": rng.integers(0, 500, nl),
        })
        right = (
            pd.DataFrame({
                "k": rng.integers(0, 10, nr),
                "ts": rng.integers(0, 500, nr),
                "v": rng.standard_normal(nr),
            })
            .groupby(["k", "ts"], as_index=False).agg(v=("v", "max"))
        )
        exp = pd.merge_asof(
            left.sort_values("ts", kind="stable"),
            right.sort_values("ts", kind="stable"),
            on="ts", by="k", direction=direction, allow_exact_matches=exact,
        ).set_index("id")
        got = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            by="k", right_payload=["v"],
            direction=direction, allow_exact_matches=exact,
        ).toPandas().set_index("id")
        for i in range(nl):
            ev, gv = exp.loc[i, "v"], got.loc[i, "asof_v"]
            assert (pd.isna(ev) and pd.isna(gv)) or ev == gv, (i, ev, gv)

    def test_bad_direction_raises(self, spark):
        from hex2vec_spark.operators.asof import asof_join

        left = spark.range(1).selectExpr("id as k", "id as ts")
        with pytest.raises(ValueError, match="direction"):
            asof_join(left, left, by="k", direction="sideways")

    def test_one_shuffle_no_join_explosion(self, spark):
        # plan shape: union + window — no Join node at all, exactly one
        # Exchange below the window (the scale argument for the
        # union-timeline construction)
        from hex2vec_spark.operators.asof import asof_join

        left = spark.range(100).selectExpr("id", "id % 5 as k", "id as ts")
        right = spark.range(50).selectExpr("id % 5 as k", "id as ts", "id * 1.0 as v")
        out = asof_join(left, right, by="k", right_payload=["v"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert plan.count("Exchange") == 1
        # nearest carries BOTH directions: two Windows/Sorts must still
        # share the single hash Exchange (round 4)
        near = asof_join(
            left, right, by="k", right_payload=["v"], direction="nearest"
        )
        plan_n = near._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan_n
        assert plan_n.count("Exchange") == 1
        assert plan_n.count("Window") == 2

    def test_streaming_sessions_match_batch_closed_set(self, spark, tmp_path):
        # append-mode streaming sessionization emits exactly the sessions
        # the final watermark closed, and each matches the batch result
        import shutil

        from hex2vec_spark.operators.sessions import sessionize, streaming_sessionize

        src = str(tmp_path / "ev_in")
        (tmp_path / "ev_in").mkdir()
        shutil.copy(f"{SF_DIR}/events.parquet", src + "/part-0.parquet")
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            streaming_sessionize(stream, gap="30 minutes", watermark="30 minutes")
            .writeStream.format("memory").queryName("sess")
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = spark.sql("SELECT * FROM sess").toPandas()

        batch_df = spark.read.parquet(src).withColumn("ts", F.col("ts").cast("timestamp"))
        batch = sessionize(batch_df, gap="30 minutes", include_end=True).toPandas()
        max_ts = batch_df.agg(F.max("ts")).first()[0]
        wm = max_ts - pd.Timedelta(minutes=30)
        closed = batch[batch["session_end"] <= wm]
        key = ["user_id", "session_start"]
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            closed.sort_values(key).reset_index(drop=True),
        )
        assert len(got) > 100  # the fixture closes plenty of sessions

    def test_gap_boundary_semantics(self, spark):
        # measured session_window boundary: an event exactly `gap` after
        # the previous one still MERGES (closed interval); one second
        # beyond breaks. The DuckDB oracle's strict `> gap` break must
        # match — this test pins the convention both sides share.
        from hex2vec_spark.operators.sessions import sessionize

        rows = pd.DataFrame({
            "user_id": [1, 1, 1],
            "ts": pd.to_datetime([
                "2026-01-01 10:00:00", "2026-01-01 10:30:00", "2026-01-01 11:00:01",
            ]),
            "value": [1.0, 2.0, 4.0],
        })
        out = sessionize(spark.createDataFrame(rows), gap="30 minutes").toPandas()
        # 10:00 + 10:30:00 merge (diff == 30m, inclusive); 11:00:01 is
        # 30m01s after 10:30 -> new session
        assert len(out) == 2
        assert sorted(out["n_events"]) == [1, 2]


    def test_nearest_exact_at_large_int64_timestamps(self, spark):
        # review fix: distances are computed in the NATIVE column type —
        # a double cast rounds epoch-scale int64 (~4e18, representable
        # gap 512) before subtracting and can pick the farther side on
        # close calls. Backward is closer by exactly 1 unit here.
        from hex2vec_spark.operators.asof import asof_join

        base = 4_000_000_000_000_000_000
        left = spark.createDataFrame(
            [(1, "u", base)], "id long, k string, ts long"
        )
        right = spark.createDataFrame(
            [("u", base - 1000, 1.0), ("u", base + 1001, 2.0)],
            "k string, ts long, v double",
        )
        row = asof_join(
            left, right, by="k", right_payload=["v"], direction="nearest"
        ).collect()[0]
        assert row["asof_v"] == 1.0 and row["asof_ts"] == base - 1000



class TestWindowedStreaming:
    def test_windowed_counts_matches_batch(self, spark, tmp_path):
        import shutil

        from hex2vec_spark.streaming.ingest import windowed_event_counts

        src = str(tmp_path / "events_in")
        (tmp_path / "events_in").mkdir()
        shutil.copy(f"{SF_DIR}/events.parquet", src + "/part-0.parquet")
        ev_schema = spark.read.parquet(src).schema

        stream = (
            spark.readStream.schema(ev_schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        q = (
            agg.writeStream.format("memory").queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.sql("SELECT * FROM win_counts").toPandas()

        batch = (
            spark.read.parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("ws"), "event_type", "n")
            .toPandas()
        )
        key = ["ws", "event_type"]
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            batch.sort_values(key).reset_index(drop=True),
        )


class TestIntervalJoin:
    @staticmethod
    def _tables(spark):
        import pandas as pd

        rng = __import__("numpy").random.default_rng(11)
        pts = spark.createDataFrame(pd.DataFrame({
            "pid": range(4000),
            "val": rng.integers(-500, 3500, 4000).astype(float),
        }))
        iv = spark.createDataFrame(pd.DataFrame({
            "iid": range(300),
            "lo": rng.integers(-600, 3000, 300).astype(float),
        }))
        iv = iv.withColumn("hi", F.col("lo") + (F.col("iid") % 7 + 1) * 50.0)
        return pts, iv

    def test_inner_equals_plain_nonequi(self, spark):
        from hex2vec_spark.operators.joins import interval_join

        pts, iv = self._tables(spark)
        got = interval_join(pts, iv, "val", "lo", "hi", bucket_width=100.0)
        plain = pts.join(iv, (pts.val >= iv.lo) & (pts.val < iv.hi))
        key = lambda df: sorted((r["pid"], r["iid"]) for r in df.collect())
        assert key(got) == key(plain) and got.count() > 1000

    def test_closed_variants(self, spark):
        from hex2vec_spark.operators.joins import interval_join

        pts = spark.createDataFrame([(1, 100.0)], "pid int, val double")
        iv_edge = spark.createDataFrame(
            [(1, 100.0, 200.0), (2, 0.0, 100.0), (3, 100.0, 100.0)],
            "iid int, lo double, hi double",
        )
        hits = lambda c: sorted(
            r["iid"] for r in interval_join(
                pts, iv_edge, "val", "lo", "hi", 50.0, closed=c
            ).collect()
        )
        assert hits("left") == [1]
        assert hits("both") == [1, 2, 3]
        # iid 3 is degenerate (lo = hi = 100): p > lo fails, so "right"
        # matches only iid 2 — while "both" includes the single-point
        # interval
        assert hits("right") == [2]
        assert hits("neither") == []

    def test_left_join_keeps_unmatched_points(self, spark):
        from hex2vec_spark.operators.joins import interval_join

        pts, iv = self._tables(spark)
        out = interval_join(pts, iv, "val", "lo", "hi", 100.0, how="left")
        matched = interval_join(pts, iv, "val", "lo", "hi", 100.0)
        n_matched_pts = matched.select("pid").distinct().count()
        assert out.where(F.col("iid").isNull()).count() == 4000 - n_matched_pts
        # every point appears (matched rows + one null row per unmatched)
        assert out.select("pid").distinct().count() == 4000

    def test_plan_is_equi_shuffle_join_not_nested_loop(self, spark):
        # the whole point at 100 TB: the executed plan must contain NO
        # BroadcastNestedLoopJoin / CartesianProduct — the range
        # predicate rides as a residual on a bucket equi-join
        from hex2vec_spark.operators.joins import interval_join

        pts, iv = self._tables(spark)
        # defeat the tiny-side auto-broadcast so the test sees the
        # genuine big-x-big shape
        plan = (
            interval_join(pts.hint("merge"), iv, "val", "lo", "hi", 100.0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "NestedLoop" not in plan and "Cartesian" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan

    def test_negative_and_boundary_buckets(self, spark):
        # negative values: floor(-1/100) = -1 (not trunc toward 0) --
        # a point just below zero must land in the interval crossing 0
        from hex2vec_spark.operators.joins import interval_join

        pts = spark.createDataFrame([(1, -0.5), (2, -250.0)], "pid int, val double")
        iv = spark.createDataFrame([(7, -100.0, 100.0)], "iid int, lo double, hi double")
        got = sorted(r["pid"] for r in interval_join(pts, iv, "val", "lo", "hi", 100.0).collect())
        assert got == [1]


class TestNeighborhoodSmooth:
    def _corpus(self, spark, n=80):
        import numpy as np
        from hex2vec_spark.hexlib import h3core

        rng = np.random.default_rng(31)
        lat = rng.uniform(49.0, 53.0, n)
        lng = rng.uniform(15.0, 22.0, n)
        cells = sorted({int(c) for c in h3core.encode(lat, lng, 7).view(np.int64)})
        rows = [(c, float(c % 97), float(c % 13)) for c in cells]
        return cells, spark.createDataFrame(rows, "h3 long, v double, u double")

    def _oracle(self, cells, k, include_self, weight_self):
        import numpy as np
        from hex2vec_spark.hexlib import h3core

        arr = np.array(cells, dtype=np.int64).view(np.uint64)
        src, ring = h3core.kring_flat(arr, k)
        present = set(cells)
        want = {}
        for c in cells:
            want[c] = []
        for s, r in zip(src, ring):
            c = cells[int(s)]
            rr = int(np.int64(r))
            if rr == c:
                continue
            if rr in present:
                want[c].append((rr, 1.0))
        if include_self:
            for c in cells:
                want[c].append((c, weight_self))
        out = {}
        for c, pairs in want.items():
            tw = sum(w for _, w in pairs)
            out[c] = (
                sum((n % 97) * w for n, w in pairs) / tw,
                sum((n % 13) * w for n, w in pairs) / tw,
            )
        return out

    def test_matches_python_oracle(self, spark):
        from hex2vec_spark.operators.neighbors import neighborhood_smooth

        cells, df = self._corpus(spark)
        got = {
            r["h3"]: (r["v_smooth"], r["u_smooth"])
            for r in neighborhood_smooth(df, ["v", "u"], k=1).collect()
        }
        want = self._oracle(cells, 1, True, 1.0)
        assert set(got) == set(want)
        for c in cells:
            assert abs(got[c][0] - want[c][0]) < 1e-9, c
            assert abs(got[c][1] - want[c][1]) < 1e-9, c

    def test_self_weight_and_exclude(self, spark):
        from hex2vec_spark.operators.neighbors import neighborhood_smooth

        cells, df = self._corpus(spark, 40)
        got = {
            r["h3"]: r["v_smooth"]
            for r in neighborhood_smooth(
                df, ["v"], k=1, weight_self=6.0
            ).collect()
        }
        want = self._oracle(cells, 1, True, 6.0)
        for c in cells:
            assert abs(got[c] - want[c][0]) < 1e-9
        # exclude self: isolated cells (no in-corpus neighbors) drop out
        got2 = neighborhood_smooth(df, ["v"], k=1, include_self=False)
        assert got2.count() <= len(cells)

    def test_empty_value_cols_raises(self, spark):
        import pytest as _pytest
        from hex2vec_spark.operators.neighbors import neighborhood_smooth

        _, df = self._corpus(spark, 5)
        with _pytest.raises(ValueError, match="non-empty"):
            neighborhood_smooth(df, [])


class TestBatchWordHashesArrow:
    """Round-5 fix (r4 verdict weak #2): _batch_word_hashes is Arrow
    C-kernel end-to-end; hashes must stay bit-identical to the
    object-array reference path (_hash_words_np over a Python tokenize)."""

    def test_matches_python_tokenize_reference(self):
        import numpy as np
        import pandas as pd
        from hex2vec_spark.operators.dedup import _batch_word_hashes, _hash_words_np

        def ref(text):
            tokens, row_id = [], []
            for r, t in enumerate(text):
                ws = str(t).lower().split()
                tokens.extend(ws)
                row_id.extend([r] * len(ws))
            return (
                np.asarray(row_id, np.int64),
                _hash_words_np(np.array(tokens, dtype=object)),
            )

        rng = np.random.default_rng(11)
        vocab = np.array(["w%d" % i for i in range(400)], dtype=object)
        cases = [
            pd.Series([" ".join(rng.choice(vocab, rng.integers(0, 40))) for _ in range(500)]),
            pd.Series(["a b", "", "  ", "c", "\tx\ny  z ", "Héllo ÜBER café", "a b"]),
            pd.Series([], dtype=object),
            pd.Series(["same same same", "same"]),
            # round-6 advisor fix: U+001C-U+001F are str.split whitespace
            # but NOT Unicode White_Space — the Arrow path must pre-map
            # them to spaces to keep tokenization parity
            pd.Series(["a\x1cb c", "x\x1d\x1e y", "\x1fz", "plain text"]),
        ]
        for t in cases:
            r1, h1 = ref(t)
            r2, h2 = _batch_word_hashes(t)
            assert (r1 == r2).all() and (h1 == h2).all()
