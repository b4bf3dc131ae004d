"""Training-data operator tests: dedup family, similarity search, text
analysis, multimodal plumbing — each verified against a small independent
pure-Python oracle computed on the driver."""

import hashlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from mimirsbrunn_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    long_a = (
        "The quick brown fox jumps over the lazy dog while the calm river "
        "flows past the old stone bridge in the quiet morning light of autumn"
    )
    long_b = long_a.replace("jumps", "leaps")  # one word changed → high Jaccard
    rows = [
        (1, long_a, "en"),
        (2, long_a, "en"),  # exact dup of 1
        (3, long_a.replace("  ", " ").upper().lower() + " ", "en"),  # dup after norm
        (4, long_b, "en"),  # near-dup
        (5, "Der schnelle braune Fuchs springt und ist weg", "de"),
        (6, "completely different text about spark engines and rollups", "en"),
        (7, "", "unknown"),
        (8, "le chat est sur la table et les chiens sont dehors", "fr"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs):
    groups = dedup.exact_groups(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g.n_docs == 3 and g.keep_id == 1 and g.dup_ids == [1, 2, 3]
    kept = dedup.exact_dedup(docs)
    assert kept.count() == 6
    assert {r.doc_id for r in kept.select("doc_id").collect()} == {1, 4, 5, 6, 7, 8}


def test_minhash_lsh_finds_near_dup(docs):
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5, k=32, bands=16).collect()
    pairset = {(r.id_a, r.id_b) for r in pairs}
    # exact dups and the one-word-changed near-dup must be found
    assert (1, 2) in pairset and (1, 3) in pairset and (2, 3) in pairset
    assert (1, 4) in pairset or (2, 4) in pairset
    # unrelated docs must not pair
    assert not any(6 in p or 8 in p for p in pairset)
    # jaccard for exact dup pair is 1.0
    j12 = [r.jaccard for r in pairs if (r.id_a, r.id_b) == (1, 2)][0]
    assert j12 == 1.0


def test_simhash_hamming(docs):
    sh = {r.id: r.simhash for r in dedup.simhash(docs).collect()}
    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(sh[1], sh[2]) == 0  # identical text
    assert ham(sh[1], sh[4]) <= 12  # near-dup is close
    assert ham(sh[1], sh[6]) > 12  # unrelated is far
    pairs = {(r.id_a, r.id_b) for r in dedup.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs


def test_null_text_docs_survive_every_family(spark):
    """NULL text must not crash or disappear documents anywhere: simhash
    yields 0 (empty-text parity, previously a TypeError in the numpy
    kernel), exact dedup groups NULLs like empty strings, and
    strip_boilerplate keeps the doc with clean_text='' (previously
    posexplode(NULL) silently dropped it)."""
    from mimirsbrunn_spark.operators.text import strip_boilerplate

    d = spark.createDataFrame(
        [(1, None, "h1"), (2, "real text here", "h1"), (3, None, "h2")],
        "doc_id long, text string, source string",
    )
    sh = {r.id: r.simhash for r in dedup.simhash(d).collect()}
    assert sh[1] == 0 and sh[3] == 0 and sh[2] != 0
    out = {r.doc_id: r.clean_text for r in
           strip_boilerplate(d, min_host_docs=5).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1] == "" and out[3] == ""


def test_exact_groups_cap_bounds_listing(spark):
    """max_group_ids caps dup_ids (smallest N, deterministic) while
    n_docs/keep_id stay exact over the full group."""
    d = spark.createDataFrame(
        [(i, "same text") for i in range(10)] + [(100, "unique")],
        "doc_id long, text string",
    )
    full = dedup.exact_groups(d).collect()
    assert len(full) == 1 and len(full[0].dup_ids) == 10
    capped = dedup.exact_groups(d, max_group_ids=3).collect()[0]
    assert capped.n_docs == 10 and capped.keep_id == 0
    assert capped.dup_ids == [0, 1, 2]


def test_minhash_dropped_buckets_report(spark):
    """The max_bucket cap's coverage loss is observable: the report lists
    exactly the buckets the candidate generator silently dropped."""
    d = spark.createDataFrame(
        [(i, "common boilerplate page text repeated") for i in range(8)]
        + [(100, "something completely different entirely")],
        "doc_id long, text string",
    )
    kw = dict(k=16, bands=4, max_bucket=4)
    pairs = dedup.minhash_candidates(d, **kw).collect()
    assert not any(r.id_a < 100 and r.id_b < 100 for r in pairs)  # capped away
    dropped = dedup.minhash_dropped_buckets(d, **kw).collect()
    assert dropped and all(r.n_ids == 8 for r in dropped)
    # and with a roomier cap nothing is dropped
    assert not dedup.minhash_dropped_buckets(d, k=16, bands=4, max_bucket=64).collect()


def test_ngram_jaccard_verify(docs, spark):
    cands = spark.createDataFrame([(1, 4), (1, 6)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r.ngram_jaccard for r in dedup.ngram_jaccard_pairs(cands, docs).collect()}
    assert out[(1, 4)] > 0.6 > out[(1, 6)]


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    base[7] = base[3] + rng.standard_normal(16).astype(np.float32) * 0.01  # near-dup pair
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), base


def test_brute_force_topk_matches_numpy(emb):
    df, base = emb
    q = base[0].astype(np.float64)
    cos = (base.astype(np.float64) @ q) / (
        np.linalg.norm(base.astype(np.float64), axis=1) * np.linalg.norm(q)
    )
    want = sorted(range(40), key=lambda i: (-cos[i], i))[:5]
    got = [r.id for r in similarity.brute_force_topk(df, list(base[0]), k=5).collect()]
    assert got == want


def test_lsh_topk_contains_true_top1(emb):
    df, base = emb
    got = [r.id for r in similarity.lsh_topk(df, list(base[3]), k=5, multiprobe_bits=2).collect()]
    assert 3 in got and 7 in got  # query itself + its planted near-dup


def test_embedding_near_dup_pairs(emb):
    df, _ = emb
    pairs = {(r.id_a, r.id_b) for r in similarity.embedding_near_dup_pairs(df, threshold=0.95).collect()}
    assert (3, 7) in pairs
    assert len(pairs) <= 3  # no spurious explosion


def test_text_analysis_oracle(docs):
    out = {r.doc_id: r for r in text.analyze(docs).collect()}
    for r_id in (1, 6, 7):
        txt = out[r_id].text
        toks = [t for t in re.split(r"\s+", txt.strip().lower()) if t != ""] if txt.strip() else []
        assert out[r_id].n_tokens == len(toks)
        if toks:
            sw = sum(1 for t in toks if t in text.STOPWORDS) / len(toks)
            assert abs(out[r_id].stopword_ratio - sw) < 1e-12
        punct = sum(1 for c in txt if c in ".,!?;:") / max(len(txt), 1)
        assert abs(out[r_id].punct_ratio - punct) < 1e-12
        assert out[r_id].fp == hashlib.md5(txt.encode()).hexdigest()
    assert out[1].lang_pred == "en"
    assert out[5].lang_pred == "de"
    assert out[8].lang_pred == "fr"
    assert out[7].lang_pred == "unknown"
    assert 0.0 <= out[1].quality <= 1.0


def test_multimodal_plumbing(spark):
    """Unsupported mimes raise NotImplementedError naming the mime, for
    image features and for frame sampling alike."""
    png = (0, "image", b"\x89PNG\r\n\x1a\n" + bytes(16), "image/png", 4, 4, None)
    mp4 = (1, "video", bytes(32), "video/mp4", 8, 8, 2000)
    media = spark.createDataFrame([png, mp4], multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError.*image/png"):
        multimodal.image_features(media).collect()
    with pytest.raises(Exception, match="NotImplementedError.*video/mp4"):
        multimodal.sample_frames(media).collect()


def test_ivf_topk(emb):
    df, base = emb
    cents = similarity.ivf_train(df, k=4, iters=3)
    assert cents.shape == (4, 16)
    got = [r.id for r in similarity.ivf_topk(df, list(base[3]), cents, k=5, nprobe=2).collect()]
    assert 3 in got and 7 in got  # query + planted near-dup recovered
    # full-probe IVF == brute force exactly
    full = [r.id for r in similarity.ivf_topk(df, list(base[0]), cents, k=5, nprobe=4).collect()]
    brute = [r.id for r in similarity.brute_force_topk(df, list(base[0]), k=5).collect()]
    assert full == brute


def test_msm_ladder(spark):
    """G10: exact rung boundaries of the reference ladder 1<-1 3<-2 9<-4
    20<25% (query.rs:346-376)."""
    from mimirsbrunn_spark.functions.scoring import msm_required

    df = spark.createDataFrame([(n,) for n in [0, 1, 2, 3, 4, 9, 10, 20, 21, 24, 25, 100]], "n int")
    got = {r.n: r.req for r in df.select("n", msm_required(F.col("n")).alias("req")).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 2, 9: 7, 10: 6, 20: 16, 21: 5, 24: 6, 25: 6, 100: 25}


def test_centroid_vs_numpy(spark):
    """G5: shoelace centroid matches a numpy oracle; degenerate ring falls
    back to vertex mean."""
    import numpy as np

    from mimirsbrunn_spark.operators.geo import with_centroid

    def np_centroid(xs, ys):
        xs, ys = np.asarray(xs, float), np.asarray(ys, float)
        xr, yr = np.roll(xs, -1), np.roll(ys, -1)
        cross = xs * yr - xr * ys
        a2 = cross.sum()
        if abs(a2) < 1e-12:
            return xs.mean(), ys.mean()
        return ((xs + xr) * cross).sum() / (3 * a2), ((ys + yr) * cross).sum() / (3 * a2)

    rng = np.random.default_rng(3)
    polys = []
    for pid in range(20):
        n = int(rng.integers(3, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(0.5, 3.0, n)
        polys.append((pid, (r * np.cos(ang) + pid).tolist(), (r * np.sin(ang)).tolist()))
    polys.append((99, [5.0, 5.0, 5.0], [1.0, 2.0, 3.0]))  # zero-area line
    df = spark.createDataFrame(polys, "poly_id long, xs array<double>, ys array<double>")
    got = {r.poly_id: (r.cx, r.cy) for r in with_centroid(df).collect()}
    for pid, xs, ys in polys:
        ex, ey = np_centroid(xs, ys)
        assert abs(got[pid][0] - ex) < 1e-9 and abs(got[pid][1] - ey) < 1e-9, pid


def test_way_middle_coord(spark):
    from mimirsbrunn_spark.operators.geo import way_middle_coord

    df = spark.createDataFrame(
        [
            (1, [0.0, 1.0, 2.0], [10.0, 11.0, 12.0]),  # n=3 -> idx 1 (0-based)
            (2, [0.0, 1.0, 2.0, 3.0], [10.0, 11.0, 12.0, 13.0]),  # n=4 -> idx 2
            (3, [7.0], [70.0]),  # n=1 -> idx 0
        ],
        "way_id long, xs array<double>, ys array<double>",
    )
    mx, my = way_middle_coord(F.col("xs"), F.col("ys"))
    got = {r.way_id: (r.mx, r.my) for r in df.select("way_id", mx.alias("mx"), my.alias("my")).collect()}
    assert got == {1: (1.0, 11.0), 2: (2.0, 12.0), 3: (7.0, 70.0)}


def test_point_boundary_distance_vs_numpy(spark):
    """G4: boundary distance matches a numpy point-to-segment oracle;
    contained points report 0 (geo euclidean_distance semantics)."""
    import numpy as np

    from mimirsbrunn_spark.operators.geo import point_boundary_distance

    square = (1, [0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0])
    polys = spark.createDataFrame([square], "poly_id long, xs array<double>, ys array<double>")
    pts = [
        (1, 2.0, 2.0, 0.0),   # inside
        (2, 6.0, 2.0, 2.0),   # right of edge x=4
        (3, 5.0, 5.0, 2**0.5),  # off the corner (4,4)
        (4, 2.0, -3.0, 3.0),  # below edge y=0
        (5, 4.0, 2.0, 0.0),   # near-on the boundary
    ]
    points = spark.createDataFrame(
        [(i, x, y) for i, x, y, _ in pts], "point_id long, x double, y double"
    )
    got = {r.point_id: r.boundary_dist for r in point_boundary_distance(points, polys).collect()}
    for i, _, _, want in pts:
        assert abs(got[i] - want) < 1e-9, (i, got[i], want)


def test_member_resolution_closure(spark):
    """S6/J8: relation->way->node closure on a hand-built linked fixture
    (street.rs:163-199 semantics: skip missing members, middle-node coord)."""
    from mimirsbrunn_spark.operators import members

    nodes = spark.createDataFrame(
        [(n, float(n), float(n * 10)) for n in range(1, 8)],
        "node_id long, x double, y double",
    )
    ways = spark.createDataFrame(
        [
            (100, [1, 2, 3]),       # fully resolvable
            (101, [4, 5, 6, 7]),    # fully resolvable, even count
            (102, [6, 99]),         # node 99 missing -> partial
            (103, [42]),            # nothing resolvable -> drops out
        ],
        "way_id long, node_ids array<long>",
    )
    relations = spark.createDataFrame(
        [(900, [100, 102, 555]), (901, [101])],  # way 555 missing
        "rel_id long, way_ids array<long>",
    )

    needed_ways, needed_nodes = members.dependency_closure(relations, ways, nodes)
    assert {r.way_id for r in needed_ways.collect()} == {100, 101, 102}
    assert {r.node_id for r in needed_nodes.collect()} == {1, 2, 3, 4, 5, 6, 7}

    resolved = {r.way_id: (r.xs, r.ys) for r in members.resolve_way_nodes(ways, nodes).collect()}
    assert resolved[100] == ([1.0, 2.0, 3.0], [10.0, 20.0, 30.0])  # node order kept
    assert resolved[101] == ([4.0, 5.0, 6.0, 7.0], [40.0, 50.0, 60.0, 70.0])
    assert resolved[102] == ([6.0], [60.0])  # missing node skipped
    assert 103 not in resolved

    got = {(r.rel_id, r.way_id): (r.x, r.y) for r in
           members.street_coords(relations, ways, nodes).collect()}
    # way 100: middle idx 3//2=1 -> node 2; way 101: idx 2 -> node 6; way 102: idx 0 -> node 6
    assert got == {(900, 100): (2.0, 20.0), (900, 102): (6.0, 60.0), (901, 101): (6.0, 60.0)}


def test_materialized_lsh_ivf_probe(spark, tmp_path):
    """Materialized ANN indexes: probe results identical to the per-query
    functions, and the probe's scan touches ONLY matching bucket files
    (manifest pruning asserted via inputFiles)."""
    from mimirsbrunn_spark.tables import SnapshotTable

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]

    # LSH
    lsh_tbl = SnapshotTable(str(tmp_path / "lsh_idx"))
    similarity.build_lsh_index(e, lsh_tbl, dim=len(qvec))
    got = similarity.lsh_topk_indexed(spark, lsh_tbl, qvec, k=10, multiprobe_bits=2)
    want = similarity.lsh_topk(e, qvec, k=10, multiprobe_bits=2)
    assert [(r.id, round(r.cosine, 9)) for r in got.collect()] == [
        (r.id, round(r.cosine, 9)) for r in want.collect()
    ]
    snap = lsh_tbl.snapshot(lsh_tbl.current_snapshot_id())
    def _plain(files):
        return [f[7:] if f.startswith("file://") else f for f in files]

    touched = {snap.partitions[f] for f in _plain(got.inputFiles()) if f in snap.partitions}
    all_parts = {v for v in snap.partitions.values() if v}
    qs = sorted(touched | all_parts)  # noqa: F841 (debug aid)
    assert touched  # something was read
    assert touched < all_parts  # strict subset: pruning actually happened
    # every touched bucket is inside the Hamming-2 ball of the query sig
    meta = snap.meta
    planes = similarity.hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    qsig = sum(
        (1 << i)
        for i, p in enumerate(planes)
        if sum(float(a) * float(b) for a, b in zip(qvec, p)) > 0
    )
    assert all(bin(int(t) ^ qsig).count("1") <= 2 for t in touched)

    # IVF
    ivf_tbl = SnapshotTable(str(tmp_path / "ivf_idx"))
    similarity.build_ivf_index(e, ivf_tbl, k_clusters=8, iters=3)
    got_ivf = similarity.ivf_topk_indexed(spark, ivf_tbl, qvec, k=10, nprobe=3)
    cents = similarity.ivf_train(e, k=8, iters=3)
    want_ivf = similarity.ivf_topk(e, qvec, cents, k=10, nprobe=3)
    assert [(r.id, round(r.cosine, 9)) for r in got_ivf.collect()] == [
        (r.id, round(r.cosine, 9)) for r in want_ivf.collect()
    ]
    snap_i = ivf_tbl.snapshot(ivf_tbl.current_snapshot_id())
    touched_i = {snap_i.partitions[f] for f in _plain(got_ivf.inputFiles()) if f in snap_i.partitions}
    all_i = {v for v in snap_i.partitions.values() if v}
    assert touched_i and len(touched_i) <= 3 and touched_i < all_i


def test_asof_join_backward(spark):
    """As-of join via union+locf: matches, no-match nulls, exact-ts
    inclusivity, ties by tiebreak, tolerance null-out."""
    from mimirsbrunn_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame(
        [("h1", 100, "a"), ("h1", 205, "b"), ("h1", 300, "c"),
         ("h2", 50, "d"), ("h2", 500, "e")],
        "host string, sec long, tag string",
    ).select("host", F.timestamp_seconds("sec").alias("ts"), "tag", "sec")
    right = spark.createDataFrame(
        [("h1", 100, 1.0, 10), ("h1", 100, 2.0, 11), ("h1", 200, 3.0, 12),
         ("h2", 400, 4.0, 13)],
        "host string, rsec long, value double, rid long",
    ).select("host", F.timestamp_seconds("rsec").alias("ts"), "value", "rid")

    out = asof_join_backward(
        left, right, by=("host",), right_vals=("value", "rid"), tiebreak="rid"
    )
    got = {r.tag: (r.asof_value, r.asof_rid) for r in out.collect()}
    assert got["a"] == (2.0, 11)   # exact ts inclusive; tie -> max rid
    assert got["b"] == (3.0, 12)   # most recent prior
    assert got["c"] == (3.0, 12)
    assert got["d"] == (None, None)  # nothing before
    assert got["e"] == (4.0, 13)
    assert out.count() == 5

    # tolerance: h1@300 matched err@200 (100s gap) -> nulled at 50s tolerance
    out_t = asof_join_backward(
        left, right, by=("host",), right_vals=("value",), tiebreak=None,
        tolerance_sec=50,
    )
    got_t = {r.tag: r.asof_value for r in out_t.collect()}
    assert got_t["a"] is not None and got_t["c"] is None and got_t["e"] is None


def test_multimodal_real_kernels(spark):
    """Real lib-free decode path: PPM/BMP/WAV kernels vs numpy oracles, and
    the end-to-end Spark pipelines over decodable synth media."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(13, 17, 3), dtype=np.int64).astype(np.uint8)

    # PPM roundtrip
    assert np.array_equal(multimodal.decode_ppm(multimodal.encode_ppm(img)), img)
    # PPM with comment in header
    ppm_c = b"P6\n# a comment\n17 13\n255\n" + img.tobytes()
    assert np.array_equal(multimodal.decode_ppm(ppm_c), img)

    # BMP (hand-built 24-bit bottom-up with row padding) decodes to RGB
    w, h = 3, 2
    px = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
                   [[1, 2, 3], [4, 5, 6], [7, 8, 9]]], dtype=np.uint8)
    stride = (w * 3 + 3) & ~3
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        row = px[y][:, ::-1].tobytes()  # RGB->BGR
        rows.append(row + b"\x00" * (stride - len(row)))
    pixel_data = b"".join(rows)
    header = (b"BM" + (54 + len(pixel_data)).to_bytes(4, "little") + b"\x00" * 4
              + (54).to_bytes(4, "little")
              + (40).to_bytes(4, "little") + w.to_bytes(4, "little") + h.to_bytes(4, "little")
              + (1).to_bytes(2, "little") + (24).to_bytes(2, "little") + (0).to_bytes(4, "little")
              + len(pixel_data).to_bytes(4, "little") + b"\x00" * 16)
    assert np.array_equal(multimodal.decode_bmp(header + pixel_data), px)

    # resize: nearest-neighbor gather
    small = multimodal.resize_nearest(img, 4, 4)
    assert small.shape == (4, 4, 3)
    assert np.array_equal(small[0, 0], img[0, 0])

    # WAV: rms of a known sine
    wav = multimodal._synth_wav(np.random.default_rng(0))
    samples, rate = multimodal.decode_wav(wav)
    assert rate == 8000 and samples.shape[1] == 1
    rms = np.sqrt(((samples[:, 0] / 32768.0) ** 2).mean())
    assert 0.2 < rms < 0.4  # sine at 12000/32768 amplitude -> ~0.26

    # end-to-end over decodable media
    media = multimodal.synth_media(spark, n=30)
    feats = {r.media_id: r for r in multimodal.image_features(media).collect()}
    meta = {r.media_id: r for r in media.collect()}
    assert feats and all(
        (f.decoded_w, f.decoded_h) == (meta[m].width, meta[m].height)
        for m, f in feats.items()
    )
    af = multimodal.audio_features(media).collect()
    assert af and all(0.2 < r.rms < 0.4 and r.sample_rate == 8000 for r in af)
    frames = multimodal.sample_frames(media, every_n=2).collect()
    assert frames and all(r.frame_idx % 2 == 0 for r in frames)
    # every sampled frame is itself a decodable PPM
    for r in frames[:5]:
        assert multimodal.decode_ppm(bytes(r.frame)).shape == (8, 8, 3)


def test_importance_score(spark):
    """G8/G12: field_value_factor + per-type function_score blend."""
    from mimirsbrunn_spark.functions.scoring import field_value_factor, importance_score

    df = spark.createDataFrame(
        [("poi", 2.0), ("admin", None), ("street", 4.0), ("ghost", 9.0)],
        "doc_type string, weight double",
    )
    tw = {"poi": 1.5, "admin": 2.0, "street": 0.5}
    got = {r.doc_type: r.s for r in df.select(
        "doc_type",
        importance_score(F.col("doc_type"), F.col("weight"), tw, factor=10.0, missing=0.1).alias("s"),
    ).collect()}
    assert got == {"poi": 1.5 * 20.0, "admin": 2.0 * 1.0, "street": 0.5 * 40.0, "ghost": 0.0}
    import math

    lg = df.select(field_value_factor(F.col("weight"), 1.0, 0.0, "log1p").alias("v")).collect()
    assert abs(lg[0].v - math.log1p(2.0)) < 1e-12


def test_connected_components_vs_union_find(spark):
    """Min-label propagation CC vs a pure-python union-find oracle,
    including a long chain (exercises multi-round convergence)."""
    import random

    rng = random.Random(5)
    edges = [(i, i + 1) for i in range(20)]              # chain 0..20
    edges += [(100, 101), (101, 102), (100, 102)]        # triangle
    edges += [(200, 201)]                                # pair
    edges += [(rng.randrange(300, 340), rng.randrange(300, 340)) for _ in range(30)]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        if a != b:
            union(a, b)
    want = {x: find(x) for x in parent}

    got = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
    assert got == want


def test_dedup_clusters_end_to_end(spark):
    base = ("the quick brown fox jumps over the lazy dog near the old "
            "stone bridge by the river in the morning light of summer")
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("jumps", "leaps")),
            (3, base.replace("morning", "evening")),
            (9, "a completely unrelated text about spark shuffles and partitions today"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.keep_id for r in
           dedup.dedup_clusters(docs, threshold=0.5).collect()}
    assert got == {1: 1, 2: 1, 3: 1}  # 9 has no partner -> absent


def test_sessionize_and_native_window_agree(spark):
    """Explicit lag-based sessionization vs the native session_window
    aggregate: same session partitioning (n_events multiset per user)."""
    from mimirsbrunn_spark.operators import sessions

    rows = [
        # user 1: [0, 100, 200] | gap | [4000, 4100] | gap | [9000]
        (1, 0), (1, 100), (1, 200), (1, 4000), (1, 4100), (1, 9000),
        # user 2: single session
        (2, 50), (2, 60),
    ]
    e = spark.createDataFrame(
        [(u, i, s) for i, (u, s) in enumerate(rows)], "user_id long, event_id long, sec long"
    ).select("user_id", "event_id", F.timestamp_seconds("sec").alias("ts"))

    stats = sessions.session_stats(e, gap_sec=1800, tiebreak="event_id").collect()
    got = {(r.user_id, r.session_idx): (r.n_events, r.duration_sec) for r in stats}
    assert got == {(1, 1): (3, 200.0), (1, 2): (2, 100.0), (1, 3): (1, 0.0), (2, 1): (2, 10.0)}

    native = sessions.session_aggregate(e, gap_sec=1800).collect()
    def multiset(items):
        d = {}
        for k in items:
            d[k] = d.get(k, 0) + 1
        return d
    assert multiset([(r.user_id, r.n_events) for r in native]) == multiset(
        [(r.user_id, r.n_events) for r in stats]
    )


def test_asof_join_vs_pandas_merge_asof(spark):
    """Randomized as-of join vs pandas.merge_asof (backward, by-key,
    with and without tolerance); unique right timestamps per key."""
    import pandas as pd

    from mimirsbrunn_spark.operators.asof import asof_join_backward

    rng = np.random.default_rng(17)
    hosts = [f"h{i}" for i in range(6)]
    left_rows = [
        (h, int(t), i)
        for i, (h, t) in enumerate(
            (rng.choice(hosts), rng.integers(0, 100000)) for _ in range(300)
        )
    ]
    right_ts = {h: rng.choice(100000, size=40, replace=False) for h in hosts[:5]}  # h5: no rights
    right_rows = [
        (h, int(t), float(np.round(rng.uniform(), 6))) for h in right_ts for t in right_ts[h]
    ]
    left = spark.createDataFrame(left_rows, "host string, sec long, lid long").select(
        "host", F.timestamp_seconds("sec").alias("ts"), "lid"
    )
    right = spark.createDataFrame(right_rows, "host string, sec long, value double").select(
        "host", F.timestamp_seconds("sec").alias("ts"), "value"
    )

    lp = pd.DataFrame(left_rows, columns=["host", "sec", "lid"]).sort_values("sec", kind="mergesort")
    rp = pd.DataFrame(right_rows, columns=["host", "sec", "value"]).sort_values("sec", kind="mergesort")

    for tol in (None, 5000):
        got = asof_join_backward(
            left, right, by=("host",), right_vals=("value",),
            tolerance_sec=tol,
        ).collect()
        want = pd.merge_asof(
            lp, rp, on="sec", by="host", direction="backward",
            tolerance=tol if tol is None else int(tol),
        )
        want_map = dict(zip(want["lid"], want["value"]))
        for r in got:
            w = want_map[r.lid]
            if pd.isna(w):
                assert r.asof_value is None, (tol, r)
            else:
                assert r.asof_value == w, (tol, r)
        assert len(got) == len(left_rows)


def test_size_histogram_merge_exact(spark):
    """Mergeable log-histogram sketch: (a) bin function exact at powers of
    two (bit-math, no float log); (b) rolling up 1m histograms to 1d equals
    the histogram computed directly from raw rows — exact integer merge."""
    from mimirsbrunn_spark.operators import histograms as H

    vals = [0, 1, 2, 3, 4, 7, 8, 1023, 1024, 1025, 2**30, 2**40 + 5]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.v: r.b for r in df.select("v", H.size_bin(F.col("v")).alias("b")).collect()}
    import math

    for v in vals:
        assert got[v] == min(int(math.floor(math.log2(v + 1))), 40), v

    rng = np.random.default_rng(23)
    rows = [
        ("h%d" % rng.integers(0, 3), int(rng.integers(0, 5) * 60 + 1_700_000_000 // 60 * 60 + 86400 * int(rng.integers(0, 2))), int(rng.integers(0, 10**6)))
        for _ in range(500)
    ]
    base = spark.createDataFrame(rows, "host string, sec long, page_size long").select(
        "host", F.timestamp_seconds("sec").alias("bucket_ts"), "page_size"
    )
    h1m = H.size_histogram(base)
    h1d_merged = H.rollup_histogram(h1m, "1d")
    from mimirsbrunn_spark.series import bucket_col

    h1d_direct = H.size_histogram(
        base.select(bucket_col("bucket_ts", "1d").alias("bucket_ts"), "host", "page_size")
    )
    assert h1d_merged.exceptAll(h1d_direct).count() == 0
    assert h1d_direct.exceptAll(h1d_merged).count() == 0
    # quantile sanity: p50 upper bound covers >= half the mass
    q = H.histogram_quantile(h1d_merged, 0.5).collect()
    assert q and all(r.quantile_ub > 0 for r in q)


def test_boilerplate_strip(spark):
    """Per-host frequent-segment removal: footer segments repeated across a
    host's docs are stripped; rare segments and small hosts are untouched."""
    from mimirsbrunn_spark.operators.text import boilerplate_segments, strip_boilerplate

    footer = "all rights reserved"
    rows = [
        (1, "h1", "unique alpha text. " + footer),
        (2, "h1", "different beta words. " + footer),
        (3, "h1", "gamma content here. " + footer),
        (4, "h1", "delta body only"),              # no footer
        (5, "h2", "single doc host. " + footer),   # host_docs=1 -> exempt
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    b = boilerplate_segments(docs, min_ratio=0.5, min_host_docs=2).collect()
    assert {(r.host, r.seg_norm) for r in b} == {("h1", footer)}

    out = {r.doc_id: (r.clean_text, r.n_removed) for r in
           strip_boilerplate(docs, min_ratio=0.5, min_host_docs=2).collect()}
    assert out[1] == ("unique alpha text", 1)
    assert out[4] == ("delta body only", 0)
    assert out[5] == ("single doc host. " + footer, 0)  # exempt host intact


def test_gopher_rules(spark):
    """Gopher-style rules vs hand-computed values."""
    from mimirsbrunn_spark.operators.text import (
        alpha_word_ratio,
        mean_word_length,
        repetition_ratio,
        symbol_word_ratio,
    )

    rows = [
        (1, "spam spam spam spam"),           # bigrams: 3 total, 1 distinct
        (2, "one two three four"),            # all distinct
        (3, "a## b…… c"),                     # 4 symbols / 3 words
        (4, "123 456 word"),                  # 1/3 alpha words
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    c = F.col("text")
    got = {r.doc_id: r for r in df.select(
        "doc_id",
        F.round(repetition_ratio(c), 6).alias("rep"),
        F.round(mean_word_length(c), 6).alias("mwl"),
        F.round(symbol_word_ratio(c), 6).alias("sym"),
        F.round(alpha_word_ratio(c), 6).alias("alpha"),
    ).collect()}
    assert got[1].rep == round(1 - 1 / 3, 6)
    assert got[2].rep == 0.0
    assert got[1].mwl == 4.0
    assert got[3].sym == round(4 / 3, 6)
    assert got[4].alpha == round(1 / 3, 6)
    assert got[5].rep == 0.0 and got[5].mwl == 0.0


def test_point_boundary_distance_bucketed(spark):
    """G4 scale path (VERDICT r2 item 6): the cell-bucketed variant returns
    the same distances as the exact kernel for all pairs within max_dist,
    and its plan contains NO cartesian/nested-loop join."""
    from mimirsbrunn_spark.operators.geo import (
        point_boundary_distance,
        point_boundary_distance_bucketed,
    )

    polys = spark.createDataFrame(
        [
            (1, [0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0]),
            (2, [10.0, 12.0, 12.0, 10.0], [10.0, 10.0, 12.0, 12.0]),
        ],
        "poly_id long, xs array<double>, ys array<double>",
    )
    points = spark.createDataFrame(
        [(1, 2.0, 2.0), (2, 6.0, 2.0), (3, 9.5, 11.0), (4, 50.0, 50.0), (5, 4.5, 4.5)],
        "point_id long, x double, y double",
    )
    max_dist = 2.5
    got = point_boundary_distance_bucketed(points, polys, cell=1.0, max_dist=max_dist)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    exact = point_boundary_distance(points, polys)
    want = {
        (r.point_id, r.poly_id): r.boundary_dist
        for r in exact.collect()
        if r.boundary_dist <= max_dist
    }
    got_map = {(r.point_id, r.poly_id): r.boundary_dist for r in got.collect()}
    assert set(got_map) == set(want)  # point 4 (far from both) dropped
    assert (4, 1) not in got_map and (4, 2) not in got_map
    for k, v in want.items():
        assert abs(got_map[k] - v) < 1e-9, (k, got_map[k], v)


def test_boilerplate_strip_all_boilerplate_doc_kept_empty(spark):
    """PINNED (VERDICT r2 item 7): a document whose segments are ALL
    boilerplate survives with clean_text='' (the funnel drops empties
    explicitly; the strip operator never disappears a document)."""
    from mimirsbrunn_spark.operators.text import strip_boilerplate

    footer = "all rights reserved"
    rows = [
        (1, "h1", "unique alpha text. " + footer),
        (2, "h1", "different beta words. " + footer),
        (3, "h1", footer),  # nothing but the boilerplate segment
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.doc_id: (r.clean_text, r.n_removed) for r in
           strip_boilerplate(docs, min_ratio=0.5, min_host_docs=2).collect()}
    assert set(out) == {1, 2, 3}  # doc 3 present, not dropped
    assert out[3] == ("", 1)
    assert out[1] == ("unique alpha text", 1)


def test_connected_components_long_chain(spark):
    """Diameter far beyond checkpoint_every×a-few: a 16-vertex path must
    still converge to a single component (VERDICT r2 item 8)."""
    from mimirsbrunn_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in
           connected_components(pairs, checkpoint_every=3, max_iter=20).collect()}
    assert got == {i: 0 for i in range(16)}


def test_connected_components_one_action_per_batch(spark):
    """Driver-side control flow costs ONE materializing action (eager
    localCheckpoint) + one cached-partition probe per checkpoint_every-round
    BATCH — intermediate rounds trigger no action at all (VERDICT r3 item
    7). Counted by instrumenting the two action entry points."""
    from mimirsbrunn_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "id_a long, id_b long"
    )
    # patch the CONCRETE class (pyspark.sql.DataFrame is the abstract
    # parent in Spark 4; the classic implementation overrides count)
    DataFrame = type(pairs)
    counts = {"count": 0, "ckpt": 0}
    orig_count, orig_ckpt = DataFrame.count, DataFrame.localCheckpoint

    def _count(self):
        counts["count"] += 1
        return orig_count(self)

    def _ckpt(self, eager=True):
        counts["ckpt"] += 1
        return orig_ckpt(self, eager=eager)

    DataFrame.count, DataFrame.localCheckpoint = _count, _ckpt
    try:
        got = {
            r.id: r.component
            for r in connected_components(
                pairs, checkpoint_every=3, max_iter=20
            ).collect()
        }
    finally:
        DataFrame.count, DataFrame.localCheckpoint = orig_count, orig_ckpt
    assert got == {i: 0 for i in range(8)}
    # 8-vertex path converges in 7 rounds → probes at rounds 3, 6, 9 (zero
    # changes at 9 → stop): 3 batches = 3 probes + 3 batch checkpoints
    # (+1 for the edge-set checkpoint) — NOT one probe per round
    assert counts["count"] == 3
    assert counts["ckpt"] == 4


def test_connected_components_two_clusters_unchanged(spark):
    """Same fixpoint as before the convergence-check fold."""
    from mimirsbrunn_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 11)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_scrub_pii_crafted_cases(spark):
    """PII redaction on hand-crafted strings: emails/IPv4s/phones replaced,
    near-misses untouched, counts agree with the replacements."""
    from pyspark.sql import functions as F

    from mimirsbrunn_spark.operators.text import pii_counts, scrub_pii

    cases = [
        # (input, expected_clean, n_email, n_ip, n_phone, n_paren, n_sep)
        ("mail a.b+c_d%e@sub.domain.org now", "mail <EMAIL> now", 1, 0, 0, 0, 0),
        ("server at 192.168.0.255 and 10.0.0.1.", "server at <IP> and <IP>.", 0, 2, 0, 0, 0),
        ("999.999.999.999 is not an IP", "999.999.999.999 is not an IP", 0, 0, 0, 0, 0),
        ("call +1 (415) 555-0199 today", "call <PHONE> today", 0, 0, 1, 0, 0),
        ("call (415) 555-0199 today", "call <PHONE> today", 0, 0, 0, 1, 0),
        ("fax 415-555-0199 or 415.555.0199", "fax <PHONE> or <PHONE>", 0, 0, 0, 0, 2),
        ("v1.2.3 release; price +5", "v1.2.3 release; price +5", 0, 0, 0, 0, 0),
        ("date 2024-01-01 is not a phone", "date 2024-01-01 is not a phone", 0, 0, 0, 0, 0),
        ("a@b.co 1.2.3.4 +44 20 7946 0958", "<EMAIL> <IP> <PHONE>", 1, 1, 1, 0, 0),
        ("", "", 0, 0, 0, 0, 0),
    ]
    df = spark.createDataFrame([(i, c[0]) for i, c in enumerate(cases)], "i int, t string")
    got = {
        r.i: (r.clean, r.n_email, r.n_ipv4, r.n_phone, r.n_phone_paren, r.n_phone_sep)
        for r in df.select(
            "i", scrub_pii(F.col("t")).alias("clean"), *pii_counts(F.col("t"))
        ).collect()
    }
    for i, (_, *exp) in enumerate(cases):
        assert got[i] == tuple(exp), (i, got[i])
