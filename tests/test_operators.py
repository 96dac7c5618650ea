"""Unit tests for Tier-B operators: dedup, similarity, text, events,
multimodal, sinks — properties the oracle comparison can't see."""

from __future__ import annotations

import gzip
import json
import math

from pyspark.sql import functions as F

from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
from terraform_aws_lambda_kinesis_to_s3_spark.operators import dedup as D
from terraform_aws_lambda_kinesis_to_s3_spark.operators import similarity as S
from terraform_aws_lambda_kinesis_to_s3_spark.operators import textops as X
from terraform_aws_lambda_kinesis_to_s3_spark.operators.events import (
    asof_join_backward,
    sessionize,
)
from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
    attach_media,
    decode_stub,
    extract_features,
)
from terraform_aws_lambda_kinesis_to_s3_spark.operators.envelope import route_records
from terraform_aws_lambda_kinesis_to_s3_spark.sinks import read_routed, write_routed


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_shingles_and_jaccard_identical_docs(spark):
    df = _docs(spark, ["a b c d e f", "a b c d e f", "x y z w v u"])
    pairs = D.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert len(pairs) == 1
    assert (pairs[0].doc_a, pairs[0].doc_b, pairs[0].jaccard) == (0, 1, 1.0)


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words everywhere nothing shared at all here now ok"
    df = _docs(spark, [base, near, far])
    sh = D.doc_shingles(df, n=3)
    cand = D.lsh_candidate_pairs(D.lsh_bands(D.minhash_signatures(sh)))
    verified = D.jaccard_on_pairs(cand, sh, threshold=0.3).collect()
    assert {(r.doc_a, r.doc_b) for r in verified} == {(0, 1)}


def test_simhash_identical_docs_same_signature(spark):
    df = _docs(spark, ["alpha beta gamma delta", "alpha beta gamma delta", "zz qq"])
    rows = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
    assert rows[0] == rows[1] != rows[2]
    assert 0 <= rows[0] < 2**32


def test_simhash_hamming_probe_matches_brute_force(spark):
    """Band probing (pigeonhole k+1 bands) must find exactly the pairs
    a brute-force hamming scan over the signatures finds — including
    planted near-dups at hamming 1-2, not just identical docs."""
    import itertools

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = [
        (0, base),
        (1, base),  # identical -> hamming 0
        (2, base + " zyxw"),  # one extra rare token -> few bits flip
        (3, base.replace("dog", "cat")),
        (4, "completely different text about spark catalyst and tungsten"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    k = 2
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_hamming_pairs(df, k=k).collect()
    }
    sigs = {r.doc_id: r.simhash for r in D.simhash(df).collect()}
    want = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        if h <= k:
            want[(a, b)] = h
    assert got == want
    assert got[(0, 1)] == 0
    assert any(h > 0 for h in got.values())  # a planted near-dup, not only exact


def test_shingles_short_doc_empty(spark):
    df = _docs(spark, ["one two"])
    assert df.select(X.shingles(F.col("text"), 3).alias("s")).first().s == []


def test_fingerprint_normalizes_whitespace_case(spark):
    df = _docs(spark, ["Hello   World", "hello world"])
    fps = [r.fp for r in df.select(X.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_cosine_topk_self_similarity(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),  # identical to 0
            (2, [0.0, 1.0, 0.0]),  # orthogonal
            (3, [-1.0, 0.0, 0.0]),  # opposite
        ],
        "vec_id long, embedding array<float>",
    )
    out = S.cosine_topk(vecs, vecs.filter("vec_id = 0"), k=3).collect()
    ranked = sorted(out, key=lambda r: r.rank)
    assert [r.nn_id for r in ranked] == [1, 2, 3]
    assert ranked[0].cosine == 1.0 and ranked[1].cosine == 0.0 and ranked[2].cosine == -1.0


def test_asof_join_backward_semantics(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100), (1, "2024-01-01 09:00:00", 101), (2, "2024-01-01 10:00:00", 102)],
        "user_id long, ts string, purchase_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 200), (1, "2024-01-01 08:00:00", 201)],
        "user_id long, ts string, signup_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = asof_join_backward(left, right, on="user_id", right_cols=("signup_id",))
    m = {r.purchase_id: r.r_signup_id for r in out.collect()}
    assert m == {100: 200, 101: 201, 102: None}  # latest-at-or-before per row


def test_sessionize_gap(spark):
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00"),
            (1, "2024-01-01 10:10:00"),
            (1, "2024-01-01 11:30:00"),  # > 30 min gap -> new session
            (2, "2024-01-01 10:00:00"),
        ],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = sessionize(ev).groupBy("user_id").agg(F.max("session_id").alias("n")).collect()
    assert {r.user_id: r.n for r in out} == {1: 2, 2: 1}


def test_multimodal_plumbing(spark):
    df = _docs(spark, ["hello", "world!"])
    out = extract_features(attach_media(df)).orderBy("doc_id").collect()
    assert out[0].n_bytes == 5 and len(out[0].features) == 8
    assert out[0].features == decode_stub(b"hello")
    assert out[0].mime == "application/octet-stream"


def test_extract_features_metadata_only_path(spark):
    """include_features=False (the byte-accounting audit's branch) must
    return doc_id/mime/n_bytes row-identical to the full path, with the
    feature vector NULL — and must not require the blob column to cross
    the Python boundary (it is projected away before mapInPandas)."""
    df = attach_media(_docs(spark, ["hello", "world!", ""]))
    full = extract_features(df).orderBy("doc_id").collect()
    meta = extract_features(df, include_features=False).orderBy(
        "doc_id"
    ).collect()
    assert [(r.doc_id, r.mime, r.n_bytes) for r in full] == [
        (r.doc_id, r.mime, r.n_bytes) for r in meta
    ]
    assert all(r.features is None for r in meta)
    # the pre-boundary projection drops blob: the audit branch ships
    # only (doc_id, meta) into Python — the MapInPandas node's direct
    # child must not expose a blob column
    node = (
        extract_features(df, include_features=False)
        ._jdf.queryExecution()
        .analyzed()
    )
    child_out = node.children().head().output().mkString("|")
    assert child_out.startswith("doc_id#") and "|meta#" in child_out
    assert "blob" not in child_out
    # all three media kernels project pre-boundary: only the columns
    # the function reads cross into Python (text/meta never ship where
    # unread)
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        resize_media,
        sample_frames,
    )

    for op, want in [
        (extract_features(df), ["doc_id#", "blob#", "meta#"]),
        (resize_media(df), ["doc_id#", "blob#"]),
        (sample_frames(df), ["doc_id#", "blob#"]),
    ]:
        cols = (
            op._jdf.queryExecution().analyzed().children().head()
            .output().mkString("|")
        ).split("|")
        assert len(cols) == len(want) and all(
            c.startswith(w) for c, w in zip(cols, want)
        ), cols


def test_png_gif_header_parse_known_fixtures():
    """The REAL codec must read dimensions from independently-produced
    bytes: the canonical 1x1 transparent PNG (byte-for-byte the file
    every png tool emits) and a hand-laid-out 3x5 GIF89a header —
    fixtures written out as literals, not via our own synth helpers."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_image_header,
    )

    png_1x1 = bytes.fromhex(
        "89504e470d0a1a0a0000000d49484452000000010000000108060000001f15c489"
        "0000000d49444154789c626001000000ffff03000006000557bfabd4"
        "0000000049454e44ae426082"
    )
    assert parse_image_header(png_1x1) == ("image/png", 1, 1)
    gif_3x5 = b"GIF89a" + bytes([3, 0, 5, 0]) + bytes(3)
    assert parse_image_header(gif_3x5) == ("image/gif", 3, 5)
    assert parse_image_header(b"not an image at all") is None
    assert parse_image_header(b"") is None


def test_image_synth_parse_roundtrip(spark):
    """synth_png/synth_gif blobs round-trip through decode_image_meta
    (the mapInPandas Arrow path), including the unknown-format row."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        decode_image_meta,
        synth_gif,
        synth_png,
    )

    rows = [
        (1, bytearray(synth_png(640, 480, 5))),
        (2, bytearray(synth_gif(64, 48))),
        (3, bytearray(b"\x00\x01plainbytes")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = {r.doc_id: r for r in decode_image_meta(df).collect()}
    assert (out[1].mime, out[1].width, out[1].height, out[1].n_bytes) == (
        "image/png", 640, 480, 38,
    )
    assert (out[2].mime, out[2].width, out[2].height, out[2].n_bytes) == (
        "image/gif", 64, 48, 13,
    )
    assert out[3].mime == "unknown"
    assert out[3].width is None and out[3].height is None


def test_sink_roundtrip_hive_and_exact(spark, tmp_path):
    payloads = [
        json.dumps({"log_type": "a", "log_id": "1", "time": "2024-01-02T03:00:00Z"}),
        json.dumps({"log_type": "b", "log_id": "2", "time": "2024-02-03T04:00:00Z"}),
    ]
    df = spark.createDataFrame([(p,) for p in payloads], "payload string")
    routed = route_records(df, PipelineConfig())
    hive = str(tmp_path / "hive")
    write_routed(routed, hive)
    back = read_routed(spark, hive)
    assert sorted(r.payload for r in back.collect()) == sorted(payloads)
    assert set(back.columns) >= {"payload", "log_type", "ym", "dd"}

    exact = str(tmp_path / "exact")
    write_routed(routed, exact, exact_layout=True)
    import glob as g

    files = g.glob(f"{exact}/**/*.gz", recursive=True)
    assert any("/a/2024-01/02/" in f for f in files)
    assert any("/b/2024-02/03/" in f for f in files)
    assert all(line for f in files for line in gzip.open(f, "rt").read().splitlines())


def test_lsh_bucket_total_preserved(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    total = e.count()
    buckets = S.lsh_bucket_counts(e, spark)
    assert buckets.agg(F.sum("n_vectors")).first()[0] == total
    # VERDICT r1 item 7: bucket assignment is a JVM fold over literal
    # weights — map-only, no joins, no row inflation
    plan = buckets._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Generate" not in plan  # no posexplode


def test_quality_score_bounds(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    feats = X.quality_features(d)
    mn, mx = feats.agg(F.min("quality_score"), F.max("quality_score")).first()
    assert 0.0 <= mn <= mx <= 1.0


def test_ivf_topk_matches_exact_when_probing_all_cells(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.label_centroids(e)
    q = e.filter("vec_id < 3")
    exact = {(r.query_id, r.nn_id) for r in S.cosine_topk(e, q, k=5).collect()}
    # nprobe = all cells -> IVF degenerates to exact
    approx_all = {
        (r.query_id, r.nn_id)
        for r in S.ivf_topk(e, q, cents, k=5, nprobe=10).collect()
    }
    assert approx_all == exact
    # nprobe=3 returns k results per query (approximate, subset of cells)
    approx = S.ivf_topk(e, q, cents, k=5, nprobe=3).collect()
    assert len(approx) == 15


def test_salted_agg_equals_plain_groupby(spark):
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.skew import salted_agg
    from terraform_aws_lambda_kinesis_to_s3_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    salted = {
        r.event_type: (r.n, float(r.s))
        for r in salted_agg(
            ev,
            keys=["event_type"],
            partials=[
                (F.count("*"), "n"),
                (F.sum(F.col("value").cast("decimal(12,2)")), "s"),
            ],
            merges=[("sum", "n"), ("sum", "s")],
            salt_buckets=8,
        ).collect()
    }
    plain = {
        r.event_type: (r.n, float(r.s))
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("s"),
        )
        .collect()
    }
    assert salted == plain


def test_salted_join_equals_plain_join(spark):
    """salted_join returns exactly the plain join's rows, including a
    deliberately hot key whose rows must spread over several salt
    buckets."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [("hot", i) for i in range(200)] + [("cold%d" % i, i) for i in range(20)],
        "k string, v int",
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("cold3", "C3"), ("absent", "A")], "dk string, attr string"
    )
    got = sorted(
        (r.k, r.v, r.attr)
        for r in salted_join(fact, dim, "k", "dk", salt_buckets=8).collect()
    )
    want = sorted(
        (r.k, r.v, r.attr) for r in fact.join(dim, fact.k == dim.dk).collect()
    )
    assert got == want and len(got) == 201
    # the hot key's fact rows really do land in multiple salt buckets
    salted = fact.withColumn(
        "s", F.pmod(F.hash("k", "v"), F.lit(8))
    ).filter(F.col("k") == "hot")
    assert salted.select("s").distinct().count() > 1


def test_cluster_pairs_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_id for r in D.cluster_pairs(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_cluster_pairs_distributed_path(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in D.cluster_pairs(pairs, driver_side_limit=0).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cosine_near_dup_distributed_no_collect(spark):
    """VERDICT r1 item 1: the near-dup operator must not collect the
    corpus to the driver. Construction must be lazy (zero Spark jobs),
    the plan a cogroup, and results exact vs brute force."""
    import itertools

    import numpy as np

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(30, 8))
    vecs = [(i, [float(x) for x in base[i]]) for i in range(30)]
    # plant two near-identical pairs
    vecs.append((100, [float(x) for x in base[0] * 1.01]))
    vecs.append((101, [float(x) for x in base[1] * 0.99]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    sc = spark.sparkContext
    sc.setJobGroup("neardup-lazy", "laziness probe")
    out = cosine_near_dup_pairs(df, threshold=0.8, blocks=4)
    assert sc.statusTracker().getJobIdsForGroup("neardup-lazy") == []
    sc.setJobGroup(None, None)
    assert "FlatMapCoGroupsInPandas" in out._jdf.queryExecution().executedPlan().toString()

    got = {(r.va, r.vb): r.cosine for r in out.collect()}
    arr = {i: np.asarray(v, dtype=np.float64) for i, v in vecs}
    want = {}
    for a, b in itertools.combinations(sorted(arr), 2):
        c = arr[a] @ arr[b] / (np.linalg.norm(arr[a]) * np.linalg.norm(arr[b]))
        if c >= 0.8:
            want[(a, b)] = round(c, 4)
    assert got == want
    assert (0, 100) in got and (1, 101) in got


def test_sequence_packing_hierarchical_matches_global(spark, tmp_path):
    """The two-level cumsum (intra-bucket + bucket offsets) must equal
    the single-window global cumsum, while partitioning by
    (source, bucket) instead of one task per source."""
    import json as _json

    from pyspark.sql import Window

    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        q_sequence_packing,
    )

    rows = [(i, "src-0", "tok " * ((i * 37) % 19 + 1)) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf = str(tmp_path / "sf")
    df.write.parquet(sf + "/documents.parquet")

    got = {
        (r.source, r.bin): (r.n_docs, r.bin_tokens)
        for r in q_sequence_packing(spark, sf).collect()
    }
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    n_tok = F.size(F.split(F.col("text"), r"\s+")).cast("long")
    want = {
        (r.source, r.bin): (r.n_docs, r.bin_tokens)
        for r in df.withColumn("n_tok", n_tok)
        .withColumn("bin", F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 512))
        .groupBy("source", "bin")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("bin_tokens"))
        .collect()
    }
    assert got == want
    assert len(got) > 1


def test_cluster_pairs_string_ids(spark):
    """Both regimes must return the input id type (ADVICE r1): string
    doc ids work through the driver union-find path too."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    got = {r.doc_id: r.cluster_id for r in D.cluster_pairs(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    got2 = {
        r.doc_id: r.cluster_id
        for r in D.cluster_pairs(pairs, driver_side_limit=0).collect()
    }
    assert got2 == got


def test_sink_hadoop_fs_restage(spark, tmp_path):
    """Exact-layout restage goes through the Hadoop FileSystem API:
    an unknown scheme fails fast with a clear error BEFORE writing,
    and an explicit file:// URI (the generic FS code path, not
    os.rename) restages correctly."""
    import glob as g

    import pytest as _pytest

    from terraform_aws_lambda_kinesis_to_s3_spark.sinks import write_routed

    df = spark.createDataFrame(
        [
            (
                json.dumps({"log_type": "a", "log_id": "9", "time": "2024-03-04T05:00:00Z"}),
            )
        ],
        "payload string",
    )
    routed = route_records(df, PipelineConfig())
    # s3:// has no FileSystem on this classpath -> fail before any write
    with _pytest.raises(ValueError, match="no Hadoop FileSystem"):
        write_routed(routed, "s3://bucket/logs", exact_layout=True)
    # file:// URI exercises the same Hadoop-FS rename path S3A/HDFS use
    out = tmp_path / "exact_uri"
    write_routed(routed, f"file://{out}", exact_layout=True)
    files = g.glob(f"{out}/**/*.gz", recursive=True)
    assert any("/a/2024-03/04/" in f for f in files)
    assert not (out.parent / "exact_uri__stage").exists()

    # Object stores (s3a://, gs://, ...) must restage via copy-then-delete,
    # not rename.  No non-file FileSystem exists on this classpath
    # (RawLocalFileSystem.checkPath rejects remapped schemes), so drop
    # "file" from the rename allowlist and run the full restage on a local
    # path: the real FileUtil.copy + delete branch executes end-to-end,
    # with only the scheme-set membership faked.
    from terraform_aws_lambda_kinesis_to_s3_spark.sinks import partitioned_json as pj

    orig = pj._RENAME_SCHEMES
    pj._RENAME_SCHEMES = frozenset({"hdfs", "viewfs"})
    try:
        rout = tmp_path / "exact_remote"
        write_routed(routed, str(rout), exact_layout=True)
        rfiles = g.glob(f"{rout}/**/*.gz", recursive=True)
        assert any("/a/2024-03/04/" in f for f in rfiles)
        assert not (rout.parent / "exact_remote__stage").exists()
    finally:
        pj._RENAME_SCHEMES = orig


def test_asof_join_forward_with_tolerance(spark):
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.events import (
        asof_join_forward,
    )

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100), (1, "2024-01-01 12:00:00", 101), (2, "2024-01-01 10:00:00", 102)],
        "user_id long, ts string, click_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00", 200), (1, "2024-01-01 15:00:00", 201)],
        "user_id long, ts string, purchase_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = asof_join_forward(left, right, on="user_id", right_cols=("purchase_id",))
    m = {r.click_id: r.r_purchase_id for r in out.collect()}
    assert m == {100: 200, 101: 201, 102: None}  # earliest at-or-after

    bounded = asof_join_forward(
        left, right, on="user_id", right_cols=("purchase_id",), tolerance_seconds=3600
    )
    mb = {r.click_id: r.r_purchase_id for r in bounded.collect()}
    assert mb == {100: 200, 101: None, 102: None}  # 3h-later match nulled


def test_approx_count_distinct_accuracy(spark):
    from terraform_aws_lambda_kinesis_to_s3_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    exact, approx = li.agg(
        F.countDistinct("l_orderkey"), F.approx_count_distinct("l_orderkey", 0.02)
    ).first()
    assert abs(approx - exact) / exact < 0.05  # HLL++ within rsd bound


def test_multimodal_resize_and_frames(spark):
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        frame_sample_stub,
        resize_media,
        resize_stub,
        sample_frames,
    )

    df = attach_media(_docs(spark, ["some media payload bytes here", "x"]))
    thumbs = resize_media(df, width=4, height=4).orderBy("doc_id").collect()
    assert [len(t.thumb) for t in thumbs] == [16, 16]
    assert bytes(thumbs[0].thumb) == resize_stub(b"some media payload bytes here", 4, 4)

    frames = sample_frames(df, n_frames=3).collect()
    assert len(frames) == 6  # 2 docs x 3 frames
    by_doc = {}
    for f in frames:
        by_doc.setdefault(f.doc_id, []).append((f.frame_idx, bytes(f.frame)))
    assert sorted(i for i, _ in by_doc[0]) == [0, 1, 2]
    assert [f for _, f in sorted(by_doc[0])] == frame_sample_stub(
        b"some media payload bytes here", 3
    )


def test_compact_partitions(spark, tmp_path):
    from terraform_aws_lambda_kinesis_to_s3_spark.sinks.partitioned_json import (
        compact_partitions,
    )

    payloads = [
        json.dumps({"log_type": "a", "log_id": str(i), "time": "2024-01-02T03:00:00Z"})
        for i in range(40)
    ]
    df = spark.createDataFrame([(p,) for p in payloads], "payload string")
    routed = route_records(df, PipelineConfig()).repartition(8)
    out = str(tmp_path / "sink")
    # three unclustered appends of 8 tasks each -> many small files
    for _ in range(3):
        routed.select(
            F.col("payload").alias("value"), F.col("route").alias("log_type"), "ym", "dd"
        ).write.mode("append").partitionBy("log_type", "ym", "dd").option(
            "compression", "gzip"
        ).text(out)
    import glob as g

    before = len([f for f in g.glob(f"{out}/**/*.gz", recursive=True)])
    assert before >= 8
    after = compact_partitions(spark, out)
    assert after == 1  # one (a, 2024-01, 02) partition -> one file
    # the partition values survive as written, not as inferred numbers
    [f] = g.glob(f"{out}/**/*.gz", recursive=True)
    assert f.startswith(f"{out}/log_type=a/ym=2024-01/dd=02/")
    back = read_routed(spark, out)
    assert back.count() == 120  # 3 appends x 40 rows, nothing lost
    assert {r.dd for r in back.select("dd").collect()} == {"02"}


def test_kmv_distinct_estimate(spark):
    """KMV estimate lands within the sketch's expected error of the
    true distinct count (~1/sqrt(k-2) relative sigma; md5 hashing makes
    the exact estimate deterministic, so this never flakes)."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.sketches import (
        kmv_distinct,
    )

    df = spark.range(20_000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        # 5000 distinct values per group, each appearing twice
        F.concat(F.col("id") % 2, F.lit("_"), (F.col("id") / 4).cast("long")).alias(
            "v"
        ),
    )
    got = {
        r.g: r.n_distinct_est
        for r in kmv_distinct(df, ["g"], "v", k=128).collect()
    }
    for g in ("0", "1"):
        assert abs(got[g] - 5000) / 5000 < 0.25, got


def test_kmv_small_group_is_exact(spark):
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.sketches import (
        kmv_distinct,
    )

    df = spark.createDataFrame(
        [("a", f"v{i % 7}") for i in range(100)], "g string, v string"
    )
    [row] = kmv_distinct(df, ["g"], "v", k=128).collect()
    assert row.n_distinct_est == 7.0


def test_weighted_sample_proportional(spark):
    """Inclusion probability tracks the weight: rows with weight 100
    are sampled ~2x as often as rows with weight 50, and the sample is
    a deterministic subset (rerun yields the identical ids)."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.sketches import (
        weighted_sample,
    )

    df = spark.range(20_000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, 100.0).otherwise(50.0).alias("w"),
    )
    s1 = {r.id for r in weighted_sample(df, "id", "w", rate=0.5).collect()}
    s2 = {r.id for r in weighted_sample(df, "id", "w", rate=0.5).collect()}
    assert s1 == s2
    heavy = sum(1 for i in s1 if i % 2 == 0)
    light = len(s1) - heavy
    assert abs(heavy / 10_000 - 0.5) < 0.05
    assert abs(light / 10_000 - 0.25) < 0.05


def test_ngram_jaccard_max_df_filters_hot_shingles(spark):
    """max_df removes hot shingles from the similarity space: docs that
    only share a boilerplate shingle (present in every doc) stop
    pairing, while pairs sharing rare shingles keep their (recomputed)
    score."""
    docs = spark.createDataFrame(
        [
            # "common common common" shingle appears in all four docs
            (1, "common common common alpha beta gamma"),
            (2, "common common common alpha beta gamma"),
            (3, "common common common delta epsilon zeta"),
            (4, "common common common eta theta iota"),
        ],
        "doc_id long, text string",
    )
    plain = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.05).collect()
    }
    # every pair shares the boilerplate shingle -> all 6 pairs
    assert plain == {(a, b) for a in range(1, 5) for b in range(a + 1, 5)}
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.05, max_df=3).collect()
    }
    # the df=4 boilerplate shingle is dropped: only the true near-dup
    # pair (1,2) survives, at full similarity over surviving shingles
    assert set(capped) == {(1, 2)}
    assert capped[(1, 2)] == 1.0


def test_token_chunks_windows_and_tail(spark):
    """Chunking covers every token, respects the stride, and the tail
    chunk keeps the remainder (n_chunk_tokens < size only on the last
    chunk of a doc)."""
    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(80))), (2, "a b c")],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.chunk_idx): (r.chunk_text, r.n_chunk_tokens)
        for r in X.token_chunks(docs, size=32, stride=24).collect()
    }
    # doc 1: 80 tokens -> starts at 0, 24, 48, 72 (1-based 1,25,49,73)
    assert {i for (d, i) in rows if d == 1} == {0, 1, 2, 3}
    text, n = rows[(1, 0)]
    assert text.split(" ") == [f"w{i}" for i in range(32)] and n == 32
    text, n = rows[(1, 3)]  # tail: tokens 72..79
    assert text.split(" ") == [f"w{i}" for i in range(72, 80)] and n == 8
    # doc 2: shorter than one window -> single tail chunk
    assert rows[(2, 0)] == ("a b c", 3)
    # overlap: chunk 1 starts 24 tokens in
    assert rows[(1, 1)][0].split(" ")[0] == "w24"


def test_cms_estimate_never_underestimates(spark):
    """Count-min property: the sketch estimate is >= the true count for
    EVERY key (one-sided error), and equals it for keys without bucket
    collisions."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators import sketches as K

    tok = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("token"))
    )
    sketch = K.cms_sketch(tok, "token")
    cells = sketch.count()
    assert cells <= K.CMS_DEPTH * K.CMS_WIDTH
    truth = tok.groupBy("token").agg(F.count("*").alias("true_count"))
    est = K.cms_estimate(sketch, truth.select("token"), "token")
    joined = truth.join(est, "token").collect()
    assert len(joined) > 0
    assert all(r.cms_estimate >= r.true_count for r in joined)
    # total mass per hash row equals the stream length
    per_row = sketch.groupBy("row").agg(F.sum("cnt").alias("s")).collect()
    n = tok.count()
    assert all(r.s == n for r in per_row)


def test_semdedup_min_id_policy(spark):
    """SemDeDup keep policy: within a cluster, a vector is removed iff
    a smaller-id same-cluster vector sits within the cosine threshold;
    the smallest member of a duplicate group always survives, and
    cross-cluster near-dups are never compared."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators import similarity as S

    # cluster A around +x: ids 1,2 identical (dup pair), 3 orthogonal-ish
    # cluster B around +y: id 4 identical to 1 in direction but assigned
    #   to B's centroid? -> no: build B's vectors near +y so 4,5 are dups
    vecs = [
        (1, [1.0, 0.05, 0.0, 0.0]),
        (2, [1.0, 0.05, 0.0, 0.0]),      # dup of 1 -> removed
        (3, [0.9, -0.4, 0.1, 0.0]),      # same cluster, far -> kept
        (4, [0.05, 1.0, 0.0, 0.0]),
        (5, [0.05, 1.0, 0.0, 0.0]),      # dup of 4 -> removed
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "centroid_label int, centroid array<double>",
    )
    flags = {
        r.id: (r.cluster, r.removed)
        for r in S.semdedup_flags(df, cents, threshold=0.95).collect()
    }
    assert flags[1] == (0, False) and flags[2] == (0, True)
    assert flags[3] == (0, False)
    assert flags[4] == (1, False) and flags[5] == (1, True)


def test_power_iteration_converges_to_top_eigvec(spark):
    """Power iteration on a synthetic Gram matrix with a dominant
    eigenvalue converges to numpy's top eigenvector (|cos| > 0.999
    after a few steps) — semantic correctness beyond engine parity."""
    import numpy as np

    from terraform_aws_lambda_kinesis_to_s3_spark.operators import similarity as S

    rng = [((i * 2654435761) % 1000) / 1000.0 - 0.5 for i in range(8 * 40)]
    X = np.array(rng).reshape(40, 8)
    X[:, 0] += 3.0  # plant a dominant direction
    G = X.T @ X
    gram = spark.createDataFrame(
        [(i, j, float(G[i, j])) for i in range(8) for j in range(8)],
        "i int, j int, g double",
    )
    v = S.power_iteration_top_eigvec(gram, dim=8, iters=12)
    got = np.array([r.v for r in v.orderBy("i").collect()])
    evals, evecs = np.linalg.eigh(G)
    top = evecs[:, np.argmax(evals)]
    assert abs(float(got @ top)) > 0.999


def test_minhash_inrow_equals_exploded(spark):
    """The map-only in-row minhash pipeline produces byte-identical
    signatures and Jaccard verdicts to the exploded groupBy
    formulation (same base hash, same affine family, same min)."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators import dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = D.doc_shingles(docs, n=3)
    old = {
        r.doc_id: tuple(r[f"mh_{s}"] for s in range(D.MINHASH_K))
        for r in D.minhash_signatures(sh).collect()
    }
    arrs = D.shingle_arrays(docs, n=3)
    new = {
        r.doc_id: tuple(r[f"mh_{s}"] for s in range(D.MINHASH_K))
        for r in D.minhash_signatures_inrow(arrs).collect()
    }
    assert old == new
    # verify stage parity on the candidate pairs
    cand = D.lsh_candidate_pairs(D.lsh_bands(D.minhash_signatures_inrow(arrs)))
    via_index = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.jaccard_on_pairs(cand, sh).collect()
    }
    via_arrays = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.jaccard_on_pairs_arrays(cand, arrs).collect()
    }
    assert via_index == via_arrays


def test_dup_ngram_coverage_short_docs_and_semantics(spark):
    """Duplicated-span coverage: docs shorter than the gram width must
    yield zero grams (Spark's sequence(1, 0) DESCENDS — the guard
    matters), a corpus-unique doc gets coverage 0, and two identical
    docs are fully covered."""
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        q_dup_ngram_coverage,
    )
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f", "en", "s", 11),      # dup of 2 -> fully covered
            (2, "a b c d e f", "en", "s", 11),
            (3, "one two three", "en", "s", 13),    # < 5 words -> no grams
            (4, "u v w x y z q r s t", "en", "s", 19),  # unique -> 0 covered
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **kw: docs
    try:
        got = {r.doc_id: (r.covered, r.dup_span_frac) for r in
               q_dup_ngram_coverage(spark, "ignored").collect()}
    finally:
        Q._t = orig
    assert got[1] == (6, 1.0) and got[2] == (6, 1.0)
    assert got[3] == (0, 0.0)
    assert got[4] == (0, 0.0)


def test_gopher_flags_rules(spark):
    """Each Gopher rule flips on the fixture engineered to violate
    exactly one of them."""
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        GOPHER_MIN_WORDS,
        q_gopher_quality_flags,
    )
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    good_words = ("the a " + "word " * (GOPHER_MIN_WORDS // 2)).split()
    base = " ".join(good_words + [f"w{i}" for i in range(GOPHER_MIN_WORDS)])
    docs = spark.createDataFrame(
        [
            (1, base, "en", "pass_all", len(base)),
            (2, "the a cat dog", "en", "too_short", 13),
            (3, " ".join(["the", "a"] + ["supercalifragilistic"] * GOPHER_MIN_WORDS),
             "en", "long_words", 99),
            (4, " ".join(["word"] * (GOPHER_MIN_WORDS * 2)), "en", "no_stop", 99),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **kw: docs
    try:
        rows = {r.source: r for r in q_gopher_quality_flags(spark, "x").collect()}
    finally:
        Q._t = orig
    assert rows["pass_all"].n_pass_all == 1
    assert rows["too_short"].n_pass_words == 0
    assert rows["long_words"].n_pass_word_len == 0
    assert rows["no_stop"].n_pass_stopwords == 0
    assert rows["no_stop"].n_pass_dup_words == 0  # all-same word too


def test_cosine_topk_blas_equals_catalyst(spark):
    """The BLAS batch scorer must reproduce the Catalyst-lambda
    brute-force top-k exactly — ids, ranks, and 4-dp cosines — across
    multiple Arrow batches (forced small batch size exercises the
    per-batch pruning + global merge path)."""
    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = vecs.filter(F.col("vec_id") < 7)
    small_batches = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "17")
    try:
        got = {
            (r.query_id, r.rank): (r.nn_id, r.cosine)
            for r in S.cosine_topk_blas(vecs, q, k=5).collect()
        }
    finally:
        if small_batches is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", small_batches)
    want = {
        (r.query_id, r.rank): (r.nn_id, r.cosine)
        for r in S.cosine_topk(vecs, q, k=5).collect()
    }
    assert got == want


def test_power_iteration_regimes_agree(spark):
    """The distributed relational matvec loop (max_local_dim=0 forces
    it) must produce the same unit-norm iterate as the driver-side
    BLAS regime to 9 dp."""
    import numpy as np

    rng = [((i * 2654435761) % 1000) / 1000.0 - 0.5 for i in range(8 * 40)]
    X = np.array(rng).reshape(40, 8)
    X[:, 0] += 3.0
    G = X.T @ X
    gram = spark.createDataFrame(
        [(i, j, float(G[i, j])) for i in range(8) for j in range(8)],
        "i int, j int, g double",
    )
    local = {r.i: r.v for r in S.power_iteration_top_eigvec(gram, dim=8, iters=6).collect()}
    dist = {
        r.i: r.v
        for r in S.power_iteration_top_eigvec(
            gram, dim=8, iters=6, max_local_dim=0
        ).collect()
    }
    assert set(local) == set(dist)
    for i in local:
        assert abs(local[i] - dist[i]) < 1e-9


def test_dedup_span_removal_first_occurrence_kept(spark):
    """Remove-all-but-first: of two identical docs the lower doc_id
    survives verbatim and the other collapses to empty; a unique doc
    is untouched; reconstruction preserves original token order."""
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        q_dedup_span_removal,
    )
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g", "en", "s", 13),
            (2, "a b c d e f g", "en", "s", 13),
            (3, "p q r s t u v w", "en", "s", 15),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **kw: docs
    try:
        got = {r.doc_id: r for r in q_dedup_span_removal(spark, "x").collect()}
    finally:
        Q._t = orig
    assert got[1].text_deduped == "a b c d e f g" and got[1].n_kept == 7
    assert got[2].text_deduped == "" and got[2].n_kept == 0
    assert got[3].text_deduped == "p q r s t u v w" and got[3].n_kept == 8


def test_decode_image_meta_null_blob_and_huge_dims(spark):
    """Audit totality: a NULL binary column and a corrupt PNG header
    claiming dims > 2^31-1 must classify as unknown, not crash the
    task (PNG spec caps dims at 2^31-1)."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        decode_image_meta,
        synth_png,
    )

    bad_png = bytearray(synth_png(1, 1))
    bad_png[16:20] = (0x80000000).to_bytes(4, "big")  # width 2^31
    df = spark.createDataFrame(
        [(1, None), (2, bytes(bad_png)), (3, bytearray(synth_png(9, 4)))],
        "doc_id long, blob binary",
    )
    out = {r.doc_id: r for r in decode_image_meta(df).collect()}
    assert out[1].mime == "unknown" and out[1].n_bytes == 0
    assert out[2].mime == "unknown" and out[2].width is None
    assert (out[3].mime, out[3].width, out[3].height) == ("image/png", 9, 4)


def test_power_iteration_lazy_and_empty_gram(spark):
    """The local BLAS regime must stay lazy (no jobs at plan build —
    it runs inside mapInPandas, not a driver collect), return an empty
    result on an empty gram (matching the distributed regime), and
    ignore out-of-range (i, j) entries instead of crashing."""
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    empty = spark.createDataFrame([], "i int, j int, g double")
    df = S.power_iteration_top_eigvec(empty, dim=8, iters=3)
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before  # construction ran zero jobs
    assert df.count() == 0

    oob = spark.createDataFrame(
        [(0, 0, 4.0), (99, 0, 1.0), (0, -1, 1.0)], "i int, j int, g double"
    )
    got = {r.i: r.v for r in S.power_iteration_top_eigvec(oob, dim=2, iters=2).collect()}
    assert got[0] == 1.0 and got[1] == 0.0  # only the in-range entry counted


def _with_docs(spark, Q, rows, fn, *args, **kw):
    """Run a registry query fn against an in-memory documents fixture.
    The fixture loader keys its own shared-stage entries; they are
    unpersisted and dropped afterwards."""
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **k: docs
    try:
        return fn(spark, "ignored", *args, **kw).collect()
    finally:
        Q._t = orig
        Q.clear_shared_stages()


def test_top_ngram_frac_semantics(spark):
    """Gopher top-n-gram char fraction: repeated bigram dominates, a
    one-word doc hits the empty-gram guard (frac 0), and the flag
    thresholds (0.20 / 0.18) count correctly."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        # "x y x y x": top bigram = "y x" (tie-break) at positions 1,3
        # -> union covers tokens {1..4} + 2 interior spaces = 6 of 9
        # chars; top trigram "x y x" at 0,2 covers the whole doc (the
        # occurrences OVERLAP — union coverage is 1.0, where count*len
        # would read 10/9 > 1)
        (1, "x y x y x", "en", "rep", 9),
        (2, "solo", "en", "short", 4),  # no bigrams -> frac 0, unflagged
        (3, "x x x x x", "en", "degen", 9),  # overlapping top bigram
    ]
    got = {r.source: r for r in _with_docs(spark, Q, rows, Q.q_text_top_ngram_frac)}
    assert math.isclose(got["rep"].avg_top2_frac, 6 / 9, abs_tol=1e-6)
    assert math.isclose(got["rep"].avg_top3_frac, 1.0, abs_tol=1e-6)
    assert got["rep"].n_flag_top2 == 1 and got["rep"].n_flag_top3 == 1
    assert got["short"].avg_top2_frac == 0.0
    assert got["short"].n_flag_top2 == 0 and got["short"].n_flag_top3 == 0
    # union coverage is a true fraction: never above 1 even for x x x x
    assert got["degen"].avg_top2_frac == 1.0
    assert got["degen"].avg_top3_frac == 1.0


def test_corpus_kl_zero_for_matching_distribution(spark):
    """KL(p_source || p_corpus) is 0 when every source has the corpus
    distribution, positive for a skewed source, never negative."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    same = [
        (1, "a a b", "en", "s1", 5),
        (2, "a a b", "en", "s2", 5),
    ]
    got = {r.source: r.kl_vs_corpus for r in
           _with_docs(spark, Q, same, Q.q_corpus_kl_divergence)}
    assert got["s1"] == 0.0 and got["s2"] == 0.0

    skew = [
        (1, "a a a a", "en", "heavy_a", 7),
        (2, "b b b b", "en", "heavy_b", 7),
        (3, "a b a b", "en", "mixed", 7),
    ]
    got = {r.source: r.kl_vs_corpus for r in
           _with_docs(spark, Q, skew, Q.q_corpus_kl_divergence)}
    assert got["heavy_a"] > 0 and got["heavy_b"] > 0
    assert all(v >= 0 for v in got.values())
    assert got["mixed"] < got["heavy_a"]  # mixed matches corpus better


def test_temperature_mixture_invariants(spark):
    """Both share columns sum to 1; temperature flattening upsamples
    the smallest source (factor > 1) and downsamples the largest."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, " ".join(["w"] * 100), "big", "big", 199),
        (2, " ".join(["w"] * 10), "small", "small", 19),
    ]
    rows = [(i, t, "en", s, n) for i, t, _, s, n in rows]
    out = {r.source: r for r in _with_docs(spark, Q, rows, Q.q_temperature_mixture)}
    assert math.isclose(sum(r.raw_share for r in out.values()), 1.0, abs_tol=1e-5)
    assert math.isclose(sum(r.temp_share for r in out.values()), 1.0, abs_tol=1e-5)
    assert out["small"].upsample_factor > 1.0
    assert out["big"].upsample_factor < 1.0


def test_fasttext_score_matches_hand_rolled_weights(spark):
    """The md5 bucket/weight scheme must reproduce a hand-computed
    score exactly (same scheme the DuckDB oracle runs), and scores are
    valid probabilities."""
    import hashlib

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    feats = ["alpha", "beta", "alpha_beta"]  # doc "alpha beta"
    ws = [h32(str(h32(f) % Q.FASTTEXT_BUCKETS)) / 4294967296.0 - 0.5 for f in feats]
    mean = sum(ws) / len(ws)
    expected = 1.0 / (1.0 + math.exp(-mean * 8))

    rows = [(1, "alpha beta", "en", "s", 10)]
    got = _with_docs(spark, Q, rows, Q.q_quality_fasttext_score)[0]
    assert math.isclose(got.avg_score, expected, abs_tol=1e-6)
    assert 0.0 < got.avg_score < 1.0
    assert got.n_positive == (1 if expected > 0.5 else 0)


def test_knn_label_eval_majority_and_tiebreak(spark):
    """3-NN vote: clear majority wins; a 1-1-1 tie breaks to the
    smallest label (struct-max on (count, -label))."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    # probe ids are vec_id % 5 == 0 -> 0 and 5.
    # Geometry (2-D): probe 0 at 0deg; ids 1,2,3 within ~10deg (labels
    # 2,1,1 -> majority 1 = its true label); probe 5 at 90deg with ids
    # 6,7,8 nearby carrying labels 3,2,1 -> 1-1-1 tie -> pick label 1,
    # but its true label is 3 -> incorrect.
    import math as m

    def vec(deg):
        r = m.radians(deg)
        return [float(m.cos(r)), float(m.sin(r))]

    rows = [
        (0, vec(0), 1),
        (1, vec(4), 2),
        (2, vec(6), 1),
        (3, vec(8), 1),
        (5, vec(90), 3),
        (6, vec(86), 3),
        (7, vec(93), 2),
        (8, vec(95), 1),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    orig = Q._t
    Q._t = lambda spark, sf, name, **k: emb
    try:
        got = {r.true_label: r for r in Q.q_knn_label_eval(spark, "x").collect()}
    finally:
        Q._t = orig
    assert got[1].n_queries == 1 and got[1].n_correct == 1  # majority vote
    assert got[3].n_queries == 1 and got[3].n_correct == 0  # tie -> label 1


def test_bpe_encode_merge_semantics(spark):
    """The replace-fold must apply merges in rank order with BPE's
    left-to-right non-overlapping rule: 'the' collapses to one token
    (t+h -> th, th+e -> the... no — 'the' = [th, e] after rank-0/1
    gives ['the'] only if ('th','e') is ranked; verify via counts),
    and a word with no merge pairs stays char-level."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, "the", "en", "s_the", 3),    # t~h~e -> th~e -> the : 1 token
        (2, "xyz", "en", "s_xyz", 3),    # no merges apply: 3 tokens
        (3, "thethe", "en", "s_thethe", 6),  # -> the|the : 2 tokens
    ]
    got = {r.source: r for r in _with_docs(spark, Q, rows, Q.q_bpe_encode_tokens)}
    assert got["s_the"].total_tokens == 1
    assert got["s_xyz"].total_tokens == 3
    assert got["s_thethe"].total_tokens == 2
    assert got["s_the"].fertility == 1.0
    assert got["s_xyz"].chars_per_token == 1.0


def test_events_winsorize_clips_only_tails(spark):
    """Values inside [p01, p99] are untouched; the extreme tail is
    clipped and counted; the winsorized mean moves toward the center."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q
    from datetime import datetime

    rows = [(i, datetime(2024, 1, 1), 1, "t", float(v), "{}")
            for i, v in enumerate([0.0] + [50.0] * 98 + [10000.0])]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string"
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **k: ev
    try:
        r = Q.q_events_winsorize(spark, "x").collect()[0]
    finally:
        Q._t = orig
    assert r.n_events == 100
    assert r.n_clipped == 2  # both extremes move to the interpolated bounds
    assert r.mean_winsorized < r.mean_raw  # the huge outlier dominated
    assert r.p01 > 0.0 and r.p99 < 10000.0


def test_events_winsorize_clips_at_rounded_boundary(spark):
    """The clip boundary is the 6-decimal ROUNDED percentile the query
    reports, not the raw interpolated float (sf1-sweep regression: a
    value sitting exactly at p99 flipped n_clipped across engines on a
    ~1-ulp interpolation difference).  With 101 values, p99 sits at
    sorted index (101-1)*0.99 = 99 EXACTLY, so the raw percentile is
    the element there: 100.0000002, which rounds to 100.0.  Under the
    rounded-boundary semantics that element itself exceeds the
    boundary and is clipped along with the true max (n_clipped = 2);
    under raw-boundary clipping it would equal the boundary and
    survive (n_clipped = 1) — the test discriminates the two."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q
    from datetime import datetime

    vals = [50.0] * 97 + [75.0, 100.0, 100.0000002, 100.000044]
    rows = [(i, datetime(2024, 1, 1), 1, "t", float(v), "{}")
            for i, v in enumerate(vals)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
              " value double, props string"
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **k: ev
    try:
        r = Q.q_events_winsorize(spark, "x").collect()[0]
    finally:
        Q._t = orig
    assert r.n_events == 101
    assert r.p99 == 100.0  # the ROUNDED boundary is the reported value
    assert r.n_clipped == 2  # raw-boundary clipping would report 1


def test_mrl_truncation_eval_bounds_and_identity(spark):
    """Recall is 1.0 when truncation keeps all informative dims (pad
    the tail with zeros so the 16-dim prefix IS the full vector)."""
    import math as m

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    # irregular angles: no two candidates are symmetric about a probe,
    # so no cosine ties at the rank-5 boundary (a symmetric circle has
    # exact ties there, which 1-ulp BLAS differences between the 64-dim
    # and 16-dim matmuls may legitimately break differently)
    angles = [0, 11, 35, 52, 80, 103, 151, 170, 195, 224, 267, 301]
    rows = []
    for i, deg in enumerate(angles):
        r = m.radians(deg)
        v = [float(m.cos(r)), float(m.sin(r))] + [0.0] * 62
        rows.append((i, v, i % 3))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    orig = Q._t
    Q._t = lambda spark, sf, name, **k: emb
    try:
        r = Q.q_mrl_truncation_eval(spark, "x").collect()[0]
    finally:
        Q._t = orig
    assert r.n_queries == 3  # vec_id 0, 5, 10
    assert r.recall_at_5 == 1.0


def test_vocab_growth_monotone_and_totals(spark):
    """cum_vocab and cum_tokens are non-decreasing; the last decile's
    cum_vocab equals the corpus distinct-term count and cum_tokens the
    corpus token count."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [(i, f"w{i % 4} common w{i % 7}", "en", "s", 10) for i in range(40)]
    out = sorted(
        _with_docs(spark, Q, rows, Q.q_vocab_growth_curve), key=lambda r: r.decile
    )
    assert [r.decile for r in out] == list(range(1, 11))
    for a, b in zip(out, out[1:]):
        assert b.cum_tokens >= a.cum_tokens and b.cum_vocab >= a.cum_vocab
    # corpus truth: terms are w0..w3, common, w0..w6 -> distinct = 4+1+7 - overlap(w0..w3)=8
    assert out[-1].cum_vocab == 8
    assert out[-1].cum_tokens == 40 * 3


def test_rfm_segments_partition_customers(spark):
    """Every customer lands in exactly one segment; quartile sizes are
    balanced (ntile) and counts sum to the customer total."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = []
    oid = 0
    for ck in range(1, 9):
        for j in range(ck):  # customer k has k orders
            rows.append(
                (oid, ck, "O", 100.0 * ck, datetime(2024, 1, ck), "1-URGENT")
            )
            oid += 1
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **k: orders
    try:
        segs = Q.q_customer_rfm_segments(spark, "x").collect()
    finally:
        Q._t = orig
    assert sum(r.n_customers for r in segs) == 8
    # customer 8: most recent, most frequent, highest spend -> (1,1,1)
    top = [r for r in segs if (r.r_q, r.f_q, r.m_q) == (1, 1, 1)]
    assert top and top[0].n_customers >= 1


def test_wav_header_parse_known_fixture_and_corrupt():
    """The WAV parser must read a hand-laid-out canonical header
    (44100 Hz stereo 16-bit, 10 frames) and reject malformed bytes:
    truncation, wrong magic, zero rate, odd bit depths, missing data
    chunk."""
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_wav_header,
        synth_wav,
    )

    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", 40) + bytes(40)
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    assert parse_wav_header(wav) == (44100, 2, 16, 10)
    # synth round-trips through the parser
    assert parse_wav_header(synth_wav(8000, 1, 16, 123)) == (8000, 1, 16, 123)
    assert parse_wav_header(b"RIFF" + bytes(8)) is None  # truncated
    assert parse_wav_header(b"RIFX" + wav[4:]) is None  # wrong magic
    zero_rate = struct.pack("<HHIIHH", 1, 2, 0, 0, 4, 16)
    bad = b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt " + struct.pack("<I", 16) + zero_rate + b"data" + struct.pack("<I", 0)
    assert parse_wav_header(bad) is None
    assert parse_wav_header(wav[:30]) is None  # no data chunk reachable
    # non-PCM format tags are rejected (frame math would be a lie)
    float_fmt = struct.pack("<HHIIHH", 3, 2, 44100, 44100 * 8, 8, 32)
    fbody = b"WAVE" + b"fmt " + struct.pack("<I", 16) + float_fmt
    fbody += b"data" + struct.pack("<I", 40) + bytes(40)
    assert parse_wav_header(b"RIFF" + struct.pack("<I", len(fbody)) + fbody) is None
    # truncated data chunk: frames clamp to the bytes actually present
    cut = wav[: len(wav) - 20]  # drop 20 of the 40 data bytes
    assert parse_wav_header(cut) == (44100, 2, 16, 5)
    # WAVE_FORMAT_EXTENSIBLE wrapping PCM (how encoders emit 24-bit)
    # parses; extensible wrapping FLOAT (subformat 3) is rejected
    def ext_wav(sub_code):
        guid = sub_code.to_bytes(2, "little") + bytes.fromhex(
            "000000001000800000aa00389b71"
        )
        ext = struct.pack("<HHIIHH", 0xFFFE, 2, 48000, 48000 * 6, 6, 24)
        ext += struct.pack("<HHI", 22, 24, 0x3) + guid
        b2 = b"WAVE" + b"fmt " + struct.pack("<I", len(ext)) + ext
        b2 += b"data" + struct.pack("<I", 36) + bytes(36)
        return b"RIFF" + struct.pack("<I", len(b2)) + b2

    assert parse_wav_header(ext_wav(1)) == (48000, 2, 24, 6)
    assert parse_wav_header(ext_wav(3)) is None


def test_wav_parser_fuzz_never_raises():
    """Arbitrary bytes (including magic-prefixed garbage) must parse to
    a tuple or None — never raise (the audit classifies, not crashes)."""
    import random

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_wav_header,
    )

    rng = random.Random(7)
    for trial in range(300):
        n = rng.randrange(0, 120)
        blob = bytes(rng.randrange(256) for _ in range(n))
        if trial % 3 == 0:
            blob = b"RIFF" + blob
        if trial % 5 == 0:
            blob = b"RIFF" + blob[4:8].ljust(4, b"\0") + b"WAVE" + blob
        out = parse_wav_header(blob)
        assert out is None or (len(out) == 4 and all(isinstance(x, int) for x in out))


def test_pcm_stats_known_values_and_frame_alignment():
    """pcm_frame_stats on constructed byte layouts: exact square-wave
    RMS/peak/clip values (mono + stereo, incl. a rail-sitting channel),
    only COMPLETE frames count when the data chunk is truncated
    mid-frame (every truncation offset of a stereo 16-bit file), 8-bit
    unsigned centering, 24-bit sign extension, and a 300-case fuzz
    sweep that must classify, never raise."""
    import math
    import random
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        pcm_frame_stats,
        synth_wav,
    )

    # mono square wave at half scale: rms = peak/32768 exactly, no clip
    n, peak, rms, clip, dur = pcm_frame_stats(
        synth_wav(8000, 1, 16, 100, amps=(16384,))
    )
    assert (n, peak, rms, clip, dur) == (100, 16384, 0.5, 0.0, 12.5)
    # stereo with channel 0 at the +32767 rail: only its positive
    # (even-frame) samples clip -> ceil(nf/2) of nf*2 samples
    nf = 101
    n, peak, rms, clip, dur = pcm_frame_stats(
        synth_wav(8000, 2, 16, nf, amps=(32767, 31767))
    )
    assert (n, peak) == (2 * nf, 32767)
    assert rms == round(
        math.sqrt((32767**2 + 31767**2) / 2) / 32768, 6
    )
    assert clip == round(((nf + 1) // 2) / (2 * nf), 6)
    # frame alignment: truncating a stereo 16-bit (4-byte-frame) file
    # at EVERY offset keeps exactly the complete-frame prefix
    full = synth_wav(8000, 2, 16, 10, amps=(1000, 2000))
    data_start = len(full) - 40
    for drop in range(1, 9):
        stats = pcm_frame_stats(full[: len(full) - drop])
        kept_frames = (40 - drop) // 4
        assert stats[0] == 2 * kept_frames, f"drop={drop}"
        assert stats[4] == round(kept_frames * 1000.0 / 8000, 6)
    # zero complete frames: defined zeros, not NaN/crash
    assert pcm_frame_stats(full[: data_start + 3])[0] == 0
    # 8-bit unsigned centering: all-zero data decodes to -128 ->
    # peak 128, rms 1.0, clipped at the negative rail
    n8, peak8, rms8, clip8, _ = pcm_frame_stats(synth_wav(8000, 1, 8, 50))
    assert (n8, peak8, rms8, clip8) == (50, 128, 1.0, 1.0)
    # 24-bit sign extension: hand-packed one-frame files
    def wav24(sample_bytes):
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 3, 3, 24)
        body = b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
        body += b"data" + struct.pack("<I", len(sample_bytes)) + sample_bytes
        return b"RIFF" + struct.pack("<I", len(body)) + body

    assert pcm_frame_stats(wav24(b"\xff\xff\x7f"))[1] == (1 << 23) - 1
    assert pcm_frame_stats(wav24(b"\x00\x00\x80"))[1] == 1 << 23  # -2^23
    assert pcm_frame_stats(wav24(b"\xff\xff\xff"))[1] == 1  # -1
    # fuzz: arbitrary bytes classify (tuple or None), never raise
    rng = random.Random(11)
    for trial in range(300):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 120)))
        if trial % 3 == 0:
            blob = b"RIFF" + blob
        out = pcm_frame_stats(blob)
        assert out is None or len(out) == 5


def test_pcm_stats_32bit_negative_rail_peak(spark):
    """A 32-bit PCM sample at the NEGATIVE rail has |s| = 2^31 — one
    past Int32 max.  The peak column is LongType for exactly this
    sample: with the old Int32 column the Arrow batch build raised
    TypeError on a LEGAL full-scale sample, a crash where the contract
    demands classify.  Pinned end to end through the Spark kernel."""
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        audio_pcm_stats,
        pcm_frame_stats,
    )

    data = struct.pack("<i", -(2**31)) + struct.pack("<i", 1000)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 4, 4, 32)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    blob = b"RIFF" + struct.pack("<I", len(body)) + body

    n, peak, rms, clip, _ = pcm_frame_stats(blob)
    assert (n, peak) == (2, 2**31)
    assert clip == 0.5  # the rail sample clips, the +1000 one does not

    rows = audio_pcm_stats(
        spark.createDataFrame([(1, bytearray(blob))], "doc_id long, blob binary")
    ).collect()
    assert rows[0].peak == 2**31 and rows[0].mime == "audio/wav"


def test_wav_u32_sample_rate_roundtrips(spark):
    """The RIFF fmt sample rate is UNSIGNED u32: a wire-legal value
    >= 2^31 in an untrusted blob must round-trip through
    decode_audio_meta (the column is LongType for exactly this), not
    crash the Arrow batch build the way the old Int32 column did —
    the same widening class as the mvhd timescale and the PCM peak."""
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        decode_audio_meta,
        parse_wav_header,
    )

    sr = (1 << 32) - 1
    data = bytes(8)  # 16-bit mono: 2 bytes/frame -> 4 complete frames
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2 % (1 << 32), 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    blob = b"RIFF" + struct.pack("<I", len(body)) + body

    parsed = parse_wav_header(blob)
    assert parsed is not None and parsed[0] == sr
    rows = decode_audio_meta(
        spark.createDataFrame([(1, bytearray(blob))], "doc_id long, blob binary")
    ).collect()
    assert rows[0].sample_rate == sr and rows[0].mime == "audio/wav"
    assert rows[0].n_frames == 4  # 8 data bytes / 2-byte mono frames


def test_zipf_slope_exact_powerlaw(spark):
    """A corpus whose frequencies are exactly c = 64 / rank must fit
    slope -1 with r² = 1."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    # term at rank r appears 420/r times (420 = lcm(1..7), so every
    # count is integral and c*rank is constant -> exact Zipf)
    words = []
    for r in range(1, 8):
        words += [f"t{r:03d}"] * (420 // r)
    rows = [(1, " ".join(words), "en", "s", 999)]
    got = _with_docs(spark, Q, rows, Q.q_zipf_rank_slope)[0]
    assert got.n_terms_used == 7
    assert math.isclose(got.zipf_slope, -1.0, abs_tol=1e-6)
    assert math.isclose(got.r2, 1.0, abs_tol=1e-6)


def test_doc_hash_embedding_invariants(spark):
    """Identical docs hash to identical vectors (same L2/nnz); a doc of
    one repeated token has nnz <= 1 and L2 = token count when the sign
    survives; nnz never exceeds the hashing width."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, "alpha beta gamma delta", "en", "pair", 22),
        (2, "alpha beta gamma delta", "en", "pair", 22),
        (3, "solo solo solo solo solo", "en", "mono", 24),
    ]
    got = {r.source: r for r in _with_docs(spark, Q, rows, Q.q_doc_hash_embedding)}
    assert got["pair"].n_docs == 2
    # identical docs -> identical vectors -> the avg equals each
    assert got["pair"].avg_nnz <= Q.HASH_EMBED_DIM
    assert got["mono"].avg_nnz == 1.0
    assert math.isclose(got["mono"].avg_l2, 5.0, abs_tol=1e-9)


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc fully quoted inside a long one has containment 1.0
    but low Jaccard — the asymmetric metric must emit the pair and
    label the directions correctly."""
    short = "alpha beta gamma delta epsilon zeta"
    long_doc = short + " " + " ".join(f"filler{i} pad{i} junk{i}" for i in range(12))
    df = _docs(spark, [long_doc, short])
    pairs = D.containment_pairs(df, n=3, threshold=0.9).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.doc_a, p.doc_b) == (0, 1)
    assert p.containment_b == 1.0  # the short doc is fully contained
    assert p.containment_a < 0.5
    jac = D.ngram_jaccard_pairs(df, n=3, threshold=0.9).collect()
    assert jac == []  # symmetric Jaccard dilutes the same pair away


def test_backlog_sweep_line_semantics(spark):
    """Two overlapping intervals peak at 2 open items; after both
    close the curve returns to 0."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    orders = spark.createDataFrame(
        [(1, 1, "O", 1.0, datetime(2024, 1, 1), "x"),
         (2, 1, "O", 1.0, datetime(2024, 1, 5), "x")],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        [(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", datetime(2024, 1, 10)),
         (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", datetime(2024, 2, 3))],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **k: orders if name == "orders" else lineitem
    try:
        rows = {r.ym: r for r in Q.q_open_lineitem_backlog(spark, "x").collect()}
    finally:
        Q._t = orig
    assert rows["2024-01"].peak_open == 2  # both open between Jan 5 and Jan 10
    assert rows["2024-02"].min_open == 0  # all shipped by Feb 3


def test_skipgram_window_pair_count(spark):
    """A w-token doc with window 2 yields exactly
    sum(min(i+2, w-1) - max(i-2, 0)) pairs; every pair's negative id is
    in [0, NEG_VOCAB)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [(1, "a b c d e", "en", "s", 9)]
    got = _with_docs(spark, Q, rows, Q.q_skipgram_negative_pairs)[0]
    # 5 tokens, window 2: positions contribute 2,3,4,3,2 = 14 pairs
    assert got.n_pairs == 14
    assert got.n_distinct_negs <= got.n_distinct_pairs


def test_oov_rate_vocab_boundary(spark):
    """Tokens inside the top-K vocab are covered; rare tokens count as
    OOV; a source written entirely in vocab terms has rate 0."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    common = " ".join(f"w{i}" for i in range(Q.VOCAB_K)) + " "
    rows = [
        # sources 'head' use only top-K terms (each w_i repeated so they
        # dominate the count ranking); 'tail' adds rare terms
        (1, (common * 3).strip(), "en", "head", 9),
        (2, (common + "rare1 rare2 rare3 rare4").strip(), "en", "tail", 9),
    ]
    got = {r.source: r for r in _with_docs(spark, Q, rows, Q.q_vocab_oov_rate)}
    assert got["head"].oov_rate == 0.0
    assert got["tail"].n_oov == 4
    assert 0 < got["tail"].oov_rate < 1


def test_bigram_interp_lm_orders_repetition_first(spark):
    """An interpolated bigram LM must score deterministic transitions
    (P(w|prev)=1 in the self-trained censuses) above transitions whose
    prefix is AMBIGUOUS in the corpus (P(w|prev) split 4 ways by the
    background docs)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, "a b a b a b a b", "en", "rep", 15),
        (2, "c d", "en", "amb", 3),
        # background: prefix 'c' continues 4 different ways corpus-wide
        (3, "c e", "en", "bg", 3),
        (4, "c f", "en", "bg", 3),
        (5, "c g", "en", "bg", 3),
    ]
    got = {r.source: r for r in
           _with_docs(spark, Q, rows, Q.q_bigram_interp_logprob)}
    assert got["rep"].mean_logprob > got["amb"].mean_logprob
    assert all(r.mean_logprob < 0 for r in got.values())  # log of p<1


def test_fuzzy_name_pairs_block_and_verify(spark):
    """Dual prefix+suffix blocking: same-prefix and same-suffix
    near-matches are both caught (each exactly once, despite a pair
    possibly matching both keys); a near pair differing in BOTH keys
    is still (by design) missed; distant names never match."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    parts = spark.createDataFrame(
        [
            (1, "red widget", "Brand#1"),
            (2, "red widgot", "Brand#1"),   # dist 1, prefix block 'red'
            (3, "ted widget", "Brand#1"),   # dist 1 vs #1: suffix block 'get'
            (4, "red wrenchers", "Brand#1"),  # shares prefix, dist > 3
        ],
        "p_partkey long, p_name string, p_brand string",
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **k: parts
    try:
        got = {(r.name_a, r.name_b): r.edit_distance
               for r in Q.q_part_fuzzy_name_pairs(spark, "x").collect()}
    finally:
        Q._t = orig
    # ('red widgot', 'ted widget') is dist 2 but differs in BOTH keys:
    # the documented residual blind spot of dual blocking
    assert got == {
        ("red widget", "red widgot"): 1,
        ("red widget", "ted widget"): 1,
    }


def test_distinctive_terms_finds_planted_marker(spark):
    """A term appearing ONLY in one source must top that source's
    log-odds ranking; a uniformly-distributed term must not."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, "common common marker marker marker", "en", "sA", 9),
        (2, "common common other other other", "en", "sB", 9),
    ]
    got = {(r.source, r.rank): r.term
           for r in _with_docs(spark, Q, rows, Q.q_distinctive_terms)}
    assert got[("sA", 1)] == "marker"
    assert got[("sB", 1)] == "other"


def test_embedding_outliers_flags_planted_far_vector(spark):
    """A vector far from its label centroid ranks first with the
    largest z-score."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    base = [1.0, 0.0, 0.0, 0.0]
    rows = [(i, base, 0) for i in range(6)]
    rows.append((99, [0.0, 9.0, 0.0, 0.0], 0))  # far outlier, same label
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    orig = Q._t
    Q._t = lambda spark, sf, name, **k: emb
    try:
        out = sorted(Q.q_embedding_outliers(spark, "x").collect(),
                     key=lambda r: r.rank)
    finally:
        Q._t = orig
    assert out[0].vec_id == 99 and out[0].rank == 1
    assert out[0].z > out[1].z


def test_knn_confusion_diagonal_matches_label_eval(spark):
    """The confusion matrix's diagonal must equal knn_label_eval's
    n_correct per label on the real sf0.001 table (same pipeline,
    different grain)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    sf = "/root/testdata/sf0.001"
    acc = {r.true_label: r.n_correct
           for r in Q.q_knn_label_eval(spark, sf).collect()}
    diag = {r.true_label: r.n
            for r in Q.q_knn_confusion_matrix(spark, sf).collect()
            if r.true_label == r.pred_label}
    for label, n_correct in acc.items():
        assert diag.get(label, 0) == n_correct


def test_padding_waste_uniform_vs_spread(spark):
    """Uniform lengths at a bucket boundary waste nothing; a spread
    source wastes more naively than bucketed; bucketed <= naive when
    one long doc dominates."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        # all exactly 8 tokens (a pow-2 boundary): both wastes 0
        (1, " ".join(["w"] * 8), "en", "uniform", 15),
        (2, " ".join(["w"] * 8), "en", "uniform", 15),
        # 4 tokens + one 32-token doc: naive pads everything to 32
        (3, " ".join(["w"] * 4), "en", "spread", 7),
        (4, " ".join(["w"] * 4), "en", "spread", 7),
        (5, " ".join(["w"] * 32), "en", "spread", 63),
    ]
    got = {r.source: r for r in _with_docs(spark, Q, rows, Q.q_padding_waste_stats)}
    assert got["uniform"].waste_naive == 0.0
    assert got["uniform"].waste_bucketed == 0.0
    # naive: cap 3*32=96 vs 40 real -> waste 56/96; bucketed: 4+4+32 caps
    # exactly -> waste 0
    assert got["spread"].waste_bucketed < got["spread"].waste_naive
    assert got["spread"].waste_bucketed == 0.0


def test_cross_source_prefix_overlap_counts(spark):
    """Two sources sharing one distinct opening prefix count once; a
    unique-prefix source pairs with nobody."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    shared = "the quick brown fox jumps"
    rows = [
        (1, shared + " alpha beta", "en", "s1", 9),
        (2, shared + " gamma delta", "en", "s2", 9),
        (3, shared + " epsilon", "en", "s2", 9),  # same prefix, same source
        (4, "totally different words here now", "en", "s3", 9),
    ]
    got = {(r.source_a, r.source_b): r.n_shared_prefixes
           for r in _with_docs(spark, Q, rows, Q.q_cross_source_prefix_overlap)}
    assert got == {("s1", "s2"): 1}


def test_equal_count_bins_dual_regime(spark, monkeypatch):
    """_equal_count_bins: the exact path IS ntile (bit-identical), and
    the approx path (forced by dropping NTILE_EXACT_MAX) produces the
    same bins on well-separated values and valid near-equal-count bins
    on uniform data — with ties sharing a bin."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id").alias("tie"), (F.col("id") * 7 % 1000).cast("double").alias("v")
    )
    exact = Q._equal_count_bins(df, "v", "tie", 10, "bin")
    ref = df.withColumn(
        "bin", F.ntile(10).over(Window.orderBy(F.col("v").asc(), F.col("tie").asc()))
    )
    assert exact.collect() == ref.collect()

    monkeypatch.setattr(Q, "NTILE_EXACT_MAX", 0)
    approx = Q._equal_count_bins(df, "v", "tie", 10, "bin").collect()
    # distinct uniform values + exact-rank permutation: approx quantiles
    # at eps=1/1000 must reproduce near-equal-count deciles
    from collections import Counter

    sizes = Counter(r.bin for r in approx)
    assert set(sizes) <= set(range(1, 11))
    assert all(50 <= n <= 200 for n in sizes.values()), sizes
    # monotone: larger v never lands in a smaller bin
    by_v = sorted(approx, key=lambda r: r.v)
    bins = [r.bin for r in by_v]
    assert bins == sorted(bins)

    # ties share a bin in the approx regime
    tied = spark.range(100).select(
        F.col("id").alias("tie"), F.lit(1.0).alias("v")
    )
    tb = {r.bin for r in Q._equal_count_bins(tied, "v", "tie", 4, "bin").collect()}
    assert len(tb) == 1


def test_jpeg_sof_header_parse_known_fixture():
    """The JPEG parser must read dimensions from an independently
    hand-laid-out marker stream (SOI + APP0 + COM + SOF0), including a
    progressive SOF2 variant and the documented None cases: SOS before
    SOF, DNL-deferred height 0, truncated SOF body."""
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_image_header,
    )

    app0 = bytes.fromhex("ffe000104a46494600010100000100010000")
    com = b"\xff\xfe" + struct.pack(">H", 7) + b"hello"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + struct.pack(
        ">BHHB", 8, 480, 640, 1
    ) + b"\x01\x11\x00"
    assert parse_image_header(b"\xff\xd8" + app0 + com + sof0) == (
        "image/jpeg", 640, 480,
    )
    sof2 = b"\xff\xc2" + sof0[2:]
    assert parse_image_header(b"\xff\xd8" + sof2) == ("image/jpeg", 640, 480)
    # restart/TEM standalone markers are skipped without a length word
    assert parse_image_header(b"\xff\xd8\xff\x01\xff\xd0" + sof0) == (
        "image/jpeg", 640, 480,
    )
    # SOS before any SOF: dimensions unknowable from the header
    sos = b"\xff\xda" + struct.pack(">H", 2)
    assert parse_image_header(b"\xff\xd8" + app0 + sos + sof0) is None
    # DNL-deferred height 0 is None, truncated SOF body is None
    sof_h0 = b"\xff\xc0" + struct.pack(">H", 11) + struct.pack(
        ">BHHB", 8, 0, 640, 1
    ) + b"\x01\x11\x00"
    assert parse_image_header(b"\xff\xd8" + sof_h0) is None
    assert parse_image_header(b"\xff\xd8" + sof0[:6]) is None


def test_jpeg_synth_parse_roundtrip_and_fuzz():
    """synth_jpeg round-trips through the parser (both SOF0 and SOF2,
    39 + filler bytes), and arbitrary SOI-prefixed garbage parses to a
    tuple or None — never raises."""
    import random

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_image_header,
        synth_jpeg,
    )

    b = synth_jpeg(320, 200, 4)
    assert len(b) == 43
    assert parse_image_header(b) == ("image/jpeg", 320, 200)
    assert parse_image_header(synth_jpeg(1, 1, progressive=True)) == (
        "image/jpeg", 1, 1,
    )
    rng = random.Random(11)
    for trial in range(300):
        n = rng.randrange(0, 120)
        blob = bytes(rng.randrange(256) for _ in range(n))
        if trial % 3 == 0:
            blob = b"\xff\xd8" + blob
        if trial % 5 == 0:
            blob = b"\xff\xd8\xff" + blob
        out = parse_image_header(blob)
        assert out is None or (
            out[0] == "image/jpeg"
            and isinstance(out[1], int)
            and isinstance(out[2], int)
        )


def test_bm25_semantics_planted_relevant_doc(spark):
    """BM25: a doc saturated with a RARE query term outranks a doc
    with the same count of a common query term (IDF), and
    length-normalization (b=0.75) ranks a short match above a long one
    with equal tf. One-word docs / docs with no query terms never
    appear."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    filler = "lorem ipsum dolor sit amet " * 4
    rows = [
        # 'shuffle' appears only here (rare); 'join' in many docs (common)
        (1, "shuffle " * 6 + filler, "en", "s", 9),
        (2, "join " * 6 + filler, "en", "s", 9),
        (3, "join alpha beta", "en", "s", 9),           # short match
        (4, "join " + filler * 4, "en", "s", 9),        # long match, same tf
        (5, "no relevant terms here at all", "en", "s", 9),
        (6, "join gamma delta", "en", "s", 9),
        (7, "join epsilon zeta", "en", "s", 9),
    ]
    got = _with_docs(spark, Q, rows, Q.q_bm25_topk_docs)
    ids = [r.doc_id for r in got]
    scores = {r.doc_id: r.bm25 for r in got}
    assert 5 not in ids
    assert scores[1] > scores[2]          # rare term wins on IDF
    assert scores[3] > scores[4]          # shorter doc wins at equal tf
    assert got == sorted(got, key=lambda r: (-r.bm25, r.doc_id))


def test_pmi_collocation_semantics(spark):
    """PMI: a bigram whose parts ONLY occur together scores above one
    of independently-frequent parts; sub-floor bigrams are dropped; a
    one-token doc exercises the sequence(1,0) guard."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    glued = "san francisco " * 6          # parts exclusive to the pair
    indep = "the cat . the dog . cat the . dog cat " * 6
    rows = [
        (1, (glued + indep).strip(), "en", "s", 9),
        (2, "solo", "en", "s", 9),        # 1 token: no bigrams, no crash
        (3, "rare pair", "en", "s", 9),   # count 1 < floor: dropped
    ]
    got = _with_docs(spark, Q, rows, Q.q_pmi_collocations)
    pmi = {(r.a, r.b): r.pmi for r in got}
    assert ("san", "francisco") in pmi
    assert ("rare", "pair") not in pmi
    assert all(
        pmi[("san", "francisco")] >= v
        for k, v in pmi.items() if k != ("san", "francisco")
    )


def test_source_vocab_jaccard_semantics(spark):
    """Vocab Jaccard: identical vocab = 1.0, disjoint pairs emit no
    row, partial overlap computes shared/(va+vb-shared) on DISTINCT
    terms (repetition doesn't inflate)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, "alpha beta gamma", "en", "s1", 9),
        (2, "alpha beta gamma alpha alpha", "en", "s2", 9),  # same vocab
        (3, "alpha beta delta epsilon", "en", "s3", 9),      # overlap 2/5
        (4, "zz yy xx", "en", "s4", 9),                      # disjoint
    ]
    got = {(r.source_a, r.source_b): r for r in
           _with_docs(spark, Q, rows, Q.q_source_vocab_jaccard)}
    assert got[("s1", "s2")].jaccard == 1.0
    assert got[("s1", "s3")].shared == 2
    assert got[("s1", "s3")].jaccard == round(2 / 5, 6)
    assert not any("s4" in k for k in got)


def test_spearman_exact_monotone_and_ties(spark):
    """_midranks-based Spearman: a perfectly monotone relation gives
    ρ=1 (diversity rises with n_chars), an anti-monotone one gives
    ρ=-1, and midranks equal the classic average-rank formula under
    ties (checked against scipy-free closed form on a small fixture)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q
    from pyspark.sql import functions as F

    # diversity = distinct/total; fixed 16-token docs where doc i has
    # 1+i distinct words (constant diversity would zero corr's variance)
    rows_up = [
        (i, " ".join([f"w{j:02d}" for j in range(1 + i)] + ["w00"] * (15 - i)),
         "en", "s", 10 * i)
        for i in range(1, 8)
    ]
    got = _with_docs(spark, Q, rows_up, Q.q_quality_length_spearman)
    assert got[0].spearman == 1.0
    rows_down = [
        (i, " ".join(["w00"] * (2 + i) + [f"u{j}" for j in range(8 - i)]),
         "en", "s", 10 * i)
        for i in range(1, 8)
    ]
    got = _with_docs(spark, Q, rows_down, Q.q_quality_length_spearman)
    assert got[0].spearman == -1.0

    # midranks under ties: values [5, 5, 7] -> ranks [1.5, 1.5, 3]
    df = spark.createDataFrame([(5,), (5,), (7,)], "v int")
    mr = {r.v: r.midrank for r in Q._midranks(df, "v").collect()}
    assert mr == {5: 1.5, 7: 3.0}


def test_keyword_tag_boundary_semantics(spark):
    """Keyword tagging matches at TOKEN boundaries only: 'big order'
    inside 'bigger orders' must not hit; phrase at string start/end
    hits (the padding); adjacent repeats count non-overlapping (the
    documented replace-shrink boundary: 'p p' = 1)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, "big order placed now", "en", "s1", 9),       # at start
        (2, "we took a big order", "en", "s1", 9),        # at end
        (3, "bigger orders are not it", "en", "s1", 9),   # substring: no
        (4, "big order big order", "en", "s2", 9),        # adjacent: 1
        (5, "big order x big order", "en", "s2", 9),      # separated: 2
    ]
    got = {(r.phrase, r.source): r for r in
           _with_docs(spark, Q, rows, Q.q_keyword_tag_counts)}
    assert got[("big order", "s1")].n_docs == 2
    assert got[("big order", "s1")].n_hits == 2
    assert got[("big order", "s2")].n_docs == 2
    assert got[("big order", "s2")].n_hits == 3
    assert not any(p == "table hash" for p, _ in got)


def test_doc_rarity_unique_terms_score_high(spark):
    """Mean IDF: a doc of corpus-unique terms scores ln(N); a doc of
    universal terms scores 0; repetition inside a doc doesn't change
    its rarity (distinct grain)."""
    import math

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, "common words here", "en", "uniq", 9),
        (2, "qqxx zzyy vvww", "en", "uniq", 9),        # all unique
        (3, "common words here", "en", "rep", 9),
        (4, "common common words words here", "en", "rep", 9),  # repeated
    ]
    got = {r.source: r for r in _with_docs(spark, Q, rows, Q.q_doc_rarity_score)}
    assert got["uniq"].max_rarity == round(math.log(4), 6)
    # docs 1, 3, 4 share every term (df=3): identical rarity ln(4/3)
    assert got["rep"].avg_rarity == got["rep"].max_rarity == round(
        math.log(4 / 3), 6
    )


def test_token_len_histogram_exact_power_buckets(spark):
    """floor(log2) via binary-string length is exact at powers of two:
    4 tokens -> bucket 2, 7 -> 2, 8 -> 3, 1 -> 0 (a float log2 can
    misbucket 8 on rounding)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, "a", "en", "s", 9),                     # 1 token  -> k=0
        (2, "a b c d", "en", "s", 9),               # 4 tokens -> k=2
        (3, "a b c d e f g", "en", "s", 9),         # 7 tokens -> k=2
        (4, "a b c d e f g h", "en", "s", 9),       # 8 tokens -> k=3
    ]
    got = {r.log2_tokens: r for r in
           _with_docs(spark, Q, rows, Q.q_token_len_histogram)}
    assert got[0].n_docs == 1 and got[2].n_docs == 2 and got[3].n_docs == 1
    assert got[2].total_tokens == 11


def test_gram_spectrum_good_turing_masses(spark):
    """5-gram spectrum: a doc repeated via a shared 5-gram window and
    a singleton tail produce the right (occurrences, n_grams) rows;
    mass fractions sum to 1; docs under 5 tokens contribute nothing
    (the short-doc guard)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    five = "v w x y z"
    rows = [
        (1, five, "en", "s", 9),         # gram A (once)
        (2, five, "en", "s", 9),         # gram A again -> c=2
        (3, "a b c d e f", "en", "s", 9),  # two singleton grams
        (4, "too short", "en", "s", 9),  # < 5 tokens: no grams
    ]
    got = {r.occurrences: r for r in
           _with_docs(spark, Q, rows, Q.q_gram_frequency_spectrum)}
    assert got[2].n_grams == 1        # the repeated gram
    assert got[1].n_grams == 2        # the two singletons
    assert abs(sum(r.mass_frac for r in got.values()) - 1.0) < 1e-6
    assert got[1].mass_frac == 0.5    # Good-Turing unseen estimate


def _with_events(spark, Q, rows, fn):
    """Run a registry query against an in-memory events fixture
    (event_id, ts, user_id, event_type, value, props)."""
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **k: ev
    try:
        return fn(spark, "ignored").collect()
    finally:
        Q._t = orig


def test_hourly_autocorr_alternating_signal(spark):
    """A strict high/low alternating hourly volume gives r_lag1 = -1;
    hours pair only where both sides exist (a gap drops its pairs,
    inner-join semantics)."""
    from datetime import datetime, timedelta

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    t0 = datetime(2024, 3, 1)
    rows = []
    eid = 0
    for h in range(30):
        n = 4 if h % 2 == 0 else 2
        for _ in range(n):
            rows.append((eid, t0 + timedelta(hours=h, minutes=5), 1, "a", 1.0, "{}"))
            eid += 1
    got = _with_events(spark, Q, rows, Q.q_events_hourly_autocorr)
    # 30 hours: lag-1 pairs for h=1..29 and lag-24 pairs for h=24..29
    assert got[0].n_hours == 6
    assert got[0].r_lag1 == -1.0
    assert got[0].r_lag24 == 1.0   # same parity 24h apart


def test_revenue_gini_extremes(spark):
    """Gini: equal spenders -> 0; one customer owning ~all revenue ->
    near (n-1)/n; midrank tie-correction keeps the equal case exactly
    0 (an uncorrected rank sum would not)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    def orders(spends):
        return spark.createDataFrame(
            [(i, float(s)) for i, s in enumerate(spends)],
            "o_custkey long, o_totalprice double",
        )

    orig = Q._t
    try:
        Q._t = lambda spark, sf, name, **k: orders([100, 100, 100, 100])
        got = Q.q_customer_revenue_gini(spark, "x").collect()
        assert got[0].gini == 0.0
        Q._t = lambda spark, sf, name, **k: orders([1e-9] * 9 + [1000.0])
        got = Q.q_customer_revenue_gini(spark, "x").collect()
        assert abs(got[0].gini - 0.9) < 1e-6
    finally:
        Q._t = orig


def test_burstiness_empty_hours_count(spark):
    """Fano: a type firing everything in one hour then silent must be
    bursty (fano >> 1) BECAUSE the spine injects the empty hours; a
    steady 1/hour type is exactly Poisson-boundary (var 0 -> fano 0)."""
    from datetime import datetime, timedelta

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    t0 = datetime(2024, 3, 1)
    rows = []
    eid = 0
    for h in range(10):
        rows.append((eid, t0 + timedelta(hours=h), 1, "steady", 1.0, "{}"))
        eid += 1
    for _ in range(10):
        rows.append((eid, t0, 1, "bursty", 1.0, "{}"))
        eid += 1
    got = {r.event_type: r for r in
           _with_events(spark, Q, rows, Q.q_events_type_burstiness)}
    assert got["steady"].n_hours == 10 and got["bursty"].n_hours == 10
    assert got["steady"].fano == 0.0
    assert got["bursty"].fano == 9.0  # var_pop([10,0..0])/mean = 9/1


def test_daily_drift_js_bounds(spark):
    """JS drift: identical day-over-day mix -> 0; a complete type swap
    -> ln 2 (the JS upper bound); the first day emits no row."""
    import math
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = []
    eid = 0
    for day, types in [(1, ["a", "b"]), (2, ["a", "b"]), (3, ["c", "d"])]:
        for t in types:
            for _ in range(5):
                rows.append((eid, datetime(2024, 3, day, 12), 1, t, 1.0, "{}"))
                eid += 1
    got = {r.day: r.js_divergence for r in
           _with_events(spark, Q, rows, Q.q_events_daily_type_drift)}
    assert set(got) == {"2024-03-02", "2024-03-03"}
    assert got["2024-03-02"] == 0.0
    assert got["2024-03-03"] == round(math.log(2), 6)


def test_error_taxonomy_priority_order(spark):
    """Taxonomy: a record failing MULTIPLE ways classifies by priority
    (not_json beats missing fields); event_id 0 (divisible by 7, 11
    and 13) must land in not_json; clean records are 'ok'."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (i, datetime(2024, 3, 1, 12), 1, "a", 1.0, "{}")
        for i in (0, 7, 11, 13, 77, 1, 2)
    ]
    got = {r.reason: r.n_records for r in
           _with_events(spark, Q, rows, Q.q_pipeline_error_taxonomy)}
    # 0,13 -> not_json; 11,77 -> missing_log_type; 7 -> time; 1,2 -> ok
    assert got == {"not_json": 2, "missing_log_type": 2,
                   "missing_or_bad_time": 1, "ok": 2}


def test_abc_classes_partition_and_shares(spark):
    """ABC: classes partition all parts, shares sum to 1, boundary
    parts classify by INCLUSIVE cumulative share (80 -> A, 95 -> B),
    and revenue-tied parts share a class (group-grain cumulative)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    # revenues 80, 6, 5, 4, 3, 2 (total 100): cum 80|86|91|95|98|100
    revs = [80.0, 6.0, 5.0, 4.0, 3.0, 2.0]
    rows = [(i + 1, i + 1, r, 0.0) for i, r in enumerate(revs)]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_extendedprice double, "
              "l_discount double"
    )
    orig = Q._t
    try:
        Q._t = lambda spark, sf, name, **k: li
        got = {r.abc_class: r for r in
               Q.q_parts_abc_classification(spark, "x").collect()}
        # tie case: the whole equal-revenue tail shares one class
        tied = [(1, 1, 80.0, 0.0)] + [(i + 2, i + 2, 2.5, 0.0) for i in range(8)]
        li2 = spark.createDataFrame(
            tied, "l_orderkey long, l_partkey long, l_extendedprice double, "
                  "l_discount double"
        )
        Q._t = lambda spark, sf, name, **k: li2
        got_tied = {r.abc_class: r for r in
                    Q.q_parts_abc_classification(spark, "x").collect()}
    finally:
        Q._t = orig
    assert got["A"].n_parts == 1 and got["A"].revenue_share == 0.8
    assert got["B"].n_parts == 3 and got["B"].revenue_share == 0.15
    assert got["C"].n_parts == 2 and got["C"].revenue_share == 0.05
    assert abs(sum(r.revenue_share for r in got.values()) - 1.0) < 1e-6
    assert got_tied["A"].n_parts == 1 and got_tied["C"].n_parts == 8
    assert "B" not in got_tied  # the tied group crosses 95% as one unit


def test_token_budget_alloc_sums_exactly(spark):
    """Largest-remainder apportionment: allocations are integers that
    sum EXACTLY to the budget, monotone in source size, and every
    source gets at least its floored share."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = []
    did = 0
    for s, n_docs in (("s1", 1), ("s2", 4), ("s3", 9)):
        for _ in range(n_docs):
            rows.append((did, "w " * 9 + "w", "en", s, 9))
            did += 1
    got = {r.source: r for r in
           _with_docs(spark, Q, rows, Q.q_mixture_token_budget_alloc)}
    assert sum(r.alloc_tokens for r in got.values()) == Q.ALLOC_BUDGET
    assert got["s1"].alloc_tokens < got["s2"].alloc_tokens < got["s3"].alloc_tokens
    # alpha=0.5: shares prop to sqrt(10), sqrt(40), sqrt(90) = 1:2:3
    assert abs(got["s3"].alloc_tokens - Q.ALLOC_BUDGET / 2) <= 1


def test_simhash_bit_balance_shape(spark):
    """Bit balance: 32 rows, frac_set in [0,1], bias = |frac-0.5|, and
    a corpus of IDENTICAL docs pins every bit to frac 0 or 1 (bias
    exactly 0.5 — the degenerate case the audit must flag loudest)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [(i, "same text every time", "en", "s", 9) for i in range(6)]
    got = _with_docs(spark, Q, rows, Q.q_simhash_bit_balance)
    assert len(got) == 32
    assert all(r.frac_set in (0.0, 1.0) and r.bias == 0.5 for r in got)


def test_anova_f_separated_vs_identical_groups(spark):
    """ANOVA: identical group means give F = 0; well-separated
    low-variance groups give a large F; closed-form check on a tiny
    fixture (two groups {1,2} and {5,6}: SSB=16, SSW=1, F=32)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    def orders(groups):
        rows = []
        i = 0
        for name, vals in groups.items():
            for v in vals:
                rows.append((i, name, float(v)))
                i += 1
        return spark.createDataFrame(
            rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
        )

    orig = Q._t
    try:
        Q._t = lambda spark, sf, name, **k: orders(
            {"a": [1, 2], "b": [5, 6]}
        )
        got = Q.q_orders_priority_anova(spark, "x").collect()[0]
        assert (got.n_obs, got.k_groups, got.f_stat) == (4, 2, 32.0)
        Q._t = lambda spark, sf, name, **k: orders(
            {"a": [3, 5], "b": [4, 4], "c": [5, 3]}
        )
        got = Q.q_orders_priority_anova(spark, "x").collect()[0]
        assert got.f_stat == 0.0  # identical means
    finally:
        Q._t = orig


def test_benford_first_significant_digit_extraction(spark):
    """Digit extraction: leading zeros are skipped (0.042 -> 4), exact
    powers of ten give 1 (the float-log10 trap), non-positive values
    are excluded, expected column is log10(1 + 1/d)."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    vals = [0.042, 100.0, 1.0, 0.1, 9.5, -3.0, 0.0, 2000.5]
    rows = [(i, datetime(2024, 3, 1), 1, "a", v, "{}")
            for i, v in enumerate(vals)]
    got = {r.digit: r for r in
           _with_events(spark, Q, rows, Q.q_events_value_benford)}
    assert got[1].n == 3          # 100.0, 1.0, 0.1
    assert got[4].n == 1          # 0.042
    assert got[9].n == 1 and got[2].n == 1
    assert sum(r.n for r in got.values()) == 6  # -3 and 0 excluded
    assert got[1].benford_expected == round(__import__("math").log10(2), 6)


def test_hhi_monopoly_vs_even(spark):
    """HHI: a nation with one supplier = 1.0; n even suppliers = 1/n;
    uneven shares land strictly between."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    sup = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 20), (4, 20), (5, 20)],
        "s_suppkey long, s_nationkey long",
    )
    li = spark.createDataFrame(
        [(1, 1, 100.0, 0.0),
         (2, 2, 50.0, 0.0), (3, 3, 50.0, 0.0),
         (4, 4, 50.0, 0.0), (5, 5, 50.0, 0.0)],
        "l_orderkey long, l_suppkey long, l_extendedprice double, l_discount double",
    )
    orig = Q._t
    try:
        Q._t = lambda spark, sf, name, **k: sup if name == "supplier" else li
        got = {r.nationkey: r for r in
               Q.q_supplier_nation_hhi(spark, "x").collect()}
    finally:
        Q._t = orig
    assert got[10].hhi == 1.0 and got[10].n_suppliers == 1
    assert got[20].hhi == 0.25 and got[20].n_suppliers == 4


def test_user_entropy_specialist_vs_generalist(spark):
    """Entropy: a single-type user scores 0; an even two-type user
    scores ln 2; profile groups by repertoire size."""
    import math
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = []
    eid = 0
    for _ in range(4):
        rows.append((eid, datetime(2024, 3, 1), 1, "a", 1.0, "{}")); eid += 1
    for t in ("a", "b", "a", "b"):
        rows.append((eid, datetime(2024, 3, 1), 2, t, 1.0, "{}")); eid += 1
    got = {r.n_types: r for r in
           _with_events(spark, Q, rows, Q.q_events_user_entropy)}
    assert got[1].avg_entropy == 0.0 and got[1].n_users == 1
    assert got[2].avg_entropy == round(math.log(2), 6)


def test_mann_whitney_known_fixture(spark):
    """U statistic against a hand-computed fixture: click values
    {1,2,3} vs view values {10,20,30} are perfectly separated ->
    U = 0; symmetric identical samples give U = n1*n2/2 and z = 0."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    def ev(pairs):
        return [(i, datetime(2024, 3, 1), 1, t, float(v), "{}")
                for i, (t, v) in enumerate(pairs)]

    rows = ev([("click", 1), ("click", 2), ("click", 3),
               ("view", 10), ("view", 20), ("view", 30)])
    got = _with_events(spark, Q, rows, Q.q_events_mann_whitney)[0]
    assert (got.n1, got.n2, got.u_stat) == (3, 3, 0.0)
    rows = ev([("click", 1), ("click", 2), ("view", 1), ("view", 2)])
    got = _with_events(spark, Q, rows, Q.q_events_mann_whitney)[0]
    assert got.u_stat == 2.0  # n1*n2/2 under identical samples (ties)
    assert got.z_score == 0.0


def test_cusum_finds_planted_level_shift(spark):
    """CUSUM: volume 10/day for 5 days then 20/day for 5 days — the
    cumulative deviation peaks in magnitude exactly at the last
    pre-shift day."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = []
    eid = 0
    for day in range(1, 11):
        for _ in range(10 if day <= 5 else 20):
            rows.append((eid, datetime(2024, 3, day, 12), 1, "a", 1.0, "{}"))
            eid += 1
    got = _with_events(spark, Q, rows, Q.q_events_changepoint_cusum)[0]
    assert got.changepoint_day == "2024-03-05"
    assert got.n_days == 10
    assert got.max_abs_cusum == 25.0  # 5 days x (10 - 15)


def test_load_heatmap_fracs_sum_and_cells(spark):
    """Heatmap: cells only for observed (dow, hod) pairs, fractions
    sum to 1, and a planted spike dominates its cell."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = []
    eid = 0
    # Monday 2024-03-04 09:00 spike + one Tuesday 14:00 event
    for _ in range(9):
        rows.append((eid, datetime(2024, 3, 4, 9, 30), 1, "a", 1.0, "{}")); eid += 1
    rows.append((eid, datetime(2024, 3, 5, 14, 0), 1, "a", 1.0, "{}"))
    got = {(r.dow, r.hod): r for r in
           _with_events(spark, Q, rows, Q.q_events_load_heatmap)}
    assert len(got) == 2
    assert got[(2, 9)].load_frac == 0.9   # Spark dayofweek: Monday = 2
    assert abs(sum(r.load_frac for r in got.values()) - 1.0) < 1e-6


def test_fuzzy_block_eval_planted_miss_and_hit(spark):
    """Blocking eval against the shipped DUAL prefix+suffix keys: a
    word-start edit (prefix miss) is now caught by the suffix block; a
    true pair differing in BOTH keys remains the residual miss —
    completeness reflects exactly that split."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    names = ["cold ring", "old ring",       # dist 1: suffix block catches
             "aaa zzz", "baa zzy",          # dist 2: BOTH keys differ: miss
             "unrelated widget thing"]
    p = spark.createDataFrame([(i, n) for i, n in enumerate(names)],
                              "p_partkey long, p_name string")
    orig = Q._t
    try:
        Q._t = lambda spark, sf, name, **k: p
        got = Q.q_fuzzy_block_eval(spark, "x").collect()[0]
    finally:
        Q._t = orig
    assert got.n_truth == 2 and got.n_found == 1
    assert got.pair_completeness == 0.5
    assert 0 < got.reduction_ratio < 1


def test_dedup_threshold_sensitivity_monotone(spark):
    """Sensitivity curve: pair counts are non-increasing in the
    threshold, the 9-row grid is complete, and a planted exact-dup
    pair survives every cut while a weak-overlap pair drops out."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    t1 = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, t1, "en", "s", 9),
        (2, t1, "en", "s", 9),                        # jaccard 1.0
        (3, "alpha beta gamma OTHER WORDS HERE x", "en", "s", 9),
        (4, "totally different text about nothing q", "en", "s", 9),
    ]
    got = sorted(_with_docs(spark, Q, rows, Q.q_dedup_threshold_sensitivity),
                 key=lambda r: r.threshold)
    assert [r.threshold for r in got] == [round(0.1 * i, 1) for i in range(1, 10)]
    counts = [r.n_pairs for r in got]
    assert counts == sorted(counts, reverse=True)
    assert got[-1].n_pairs >= 1  # the exact dup survives threshold 0.9


def test_span_corruption_run_length_semantics(spark):
    """Span accounting: adjacent masked tokens merge into ONE span;
    isolated masked tokens are their own span; a fully-unmasked doc
    contributes zero spans; conservation n_spans <= n_masked and the
    md5 mask is deterministic across two runs."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [(i, " ".join(f"w{j}" for j in range(40)), "en", "s", 9)
            for i in range(12)]
    a = _with_docs(spark, Q, rows, Q.q_span_corruption_stats)
    b = _with_docs(spark, Q, rows, Q.q_span_corruption_stats)
    assert a == b                       # deterministic mask
    r = a[0]
    assert 0 < r.total_masked < r.total_tokens
    assert 0 < r.total_spans <= r.total_masked
    assert r.mean_span_len >= 1.0
    # closed-form check on one doc: recompute the mask in python
    import hashlib

    doc_id, n = 0, 40
    mask = [
        int(hashlib.md5(f"{doc_id}|{i}".encode()).hexdigest()[:4], 16) % 100
        < Q.SPAN_MASK_PCT
        for i in range(1, n + 1)
    ]
    spans = sum(1 for i in range(n) if mask[i] and (i == 0 or not mask[i - 1]))
    # the per-source totals include doc 0's exact counts
    per_doc = {0: (sum(mask), spans)}
    assert sum(mask) <= r.total_masked and spans <= r.total_spans


def test_ks_identical_vs_separated_arms(spark):
    """KS two-sample: identical click/view samples give D = 0 and the
    clamped p-value 1.0; fully separated samples give D = 1.0 with a
    tiny p — the two analytic anchors of the statistic."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    def ev(pairs):
        return [(i, datetime(2024, 3, 1), 1, t, float(v), "{}")
                for i, (t, v) in enumerate(pairs)]

    same = ev([("click", v) for v in (1, 2, 3, 4)]
              + [("view", v) for v in (1, 2, 3, 4)])
    got = _with_events(spark, Q, same, Q.q_events_ks_test)[0]
    assert (got.n_a, got.n_b, got.ks_stat, got.p_value) == (4, 4, 0.0, 1.0)

    apart = ev([("click", v) for v in (1, 2, 3, 4, 5, 6, 7, 8)]
               + [("view", v) for v in (11, 12, 13, 14, 15, 16, 17, 18)])
    got = _with_events(spark, Q, apart, Q.q_events_ks_test)[0]
    assert got.ks_stat == 1.0
    assert got.p_value < 0.001


def test_peak_concurrency_touching_sessions_overlap(spark):
    """Sweep-line tie semantics: a session starting at the exact
    instant another ends counts as concurrent (starts sort before ends
    at tied timestamps), and disjoint sessions never do."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    t = lambda h, m: datetime(2024, 3, 1, h, m)
    rows = [
        # user 1: session [10:00, 10:05]
        (0, t(10, 0), 1, "a", 1.0, "{}"),
        (1, t(10, 5), 1, "a", 1.0, "{}"),
        # user 2: session [10:05, 10:10] — touches user 1's end
        (2, t(10, 5), 2, "a", 1.0, "{}"),
        (3, t(10, 10), 2, "a", 1.0, "{}"),
        # user 3: far-away single-event session [12:00, 12:00]
        (4, t(12, 0), 3, "a", 1.0, "{}"),
    ]
    got = _with_events(spark, Q, rows, Q.q_events_peak_concurrency)
    assert len(got) == 1
    r = got[0]
    assert r.day == "2024-03-01"
    assert r.peak_concurrency == 2  # touching intervals overlap
    assert r.n_sessions_started == 3

    rows_disjoint = [
        (0, t(10, 0), 1, "a", 1.0, "{}"),
        (1, t(11, 0), 2, "a", 1.0, "{}"),  # >30 min after user 1
    ]
    r = _with_events(spark, Q, rows_disjoint, Q.q_events_peak_concurrency)[0]
    assert r.peak_concurrency == 1
    assert r.n_sessions_started == 2


def test_ngram_novelty_dedup_and_short_doc_semantics(spark):
    """Novelty curve: (a) a <3-token doc contributes no grams, (b) a
    doc's repeated trigram counts once (distinct grain), (c) an exact
    re-post of an earlier doc scores novelty 0."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (0, "a b c d", "en", "s", 7),          # grams: abc, bcd (novel)
        (1, "a b", "en", "s", 3),              # too short — no grams
        (5, "x y z x y z", "en", "s", 11),     # xyz twice + yzx, zxy — distinct
        (9, "a b c d", "en", "s", 7),          # re-post: novelty 0
    ]
    got = {r.decile: r for r in
           _with_docs(spark, Q, rows, Q.q_ngram_novelty_curve)}
    # doc_id range [0,9] → doc0 decile 1, doc5 decile 6, doc9 decile 10
    assert set(got) == {1, 6, 10}
    assert (got[1].n_grams, got[1].novelty_frac) == (2, 1.0)
    # x y z x y z → distinct trigrams {xyz, yzx, zxy, (xyz dup)} = 3
    assert (got[6].n_grams, got[6].novelty_frac) == (3, 1.0)
    assert (got[10].n_grams, got[10].novelty_frac) == (2, 0.0)


def test_heaps_fit_matches_direct_ols(spark):
    """The blocked-cumsum OLS equals a direct numpy log-log least
    squares on the same cumulative points (decomposition invisible)."""
    import math

    import numpy as np

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    texts = [
        "a b c", "a b d e", "a c f", "g h a b", "i j k a",
        "b c g l", "m a b c d", "n o p", "a q", "r s t u v",
    ]
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    r = _with_docs(spark, Q, rows, Q.q_heaps_law_fit)[0]

    nts = [len(t.split()) for t in texts]
    seen, nvs = set(), []
    for t in texts:
        new = [w for w in t.split() if w not in seen]
        seen.update(new)
        nvs.append(len(new))
    ct, cv = np.cumsum(nts), np.cumsum(nvs)
    x, y = np.log(ct), np.log(cv)
    beta = np.cov(x, y, bias=True)[0, 1] / np.var(x)
    k = math.exp(y.mean() - beta * x.mean())
    r2 = np.corrcoef(x, y)[0, 1] ** 2
    assert r.n_docs == 10
    assert r.total_tokens == int(ct[-1])
    assert r.vocab_size == len(seen)
    assert math.isclose(r.heaps_beta, round(beta, 6), abs_tol=2e-6)
    assert math.isclose(r.heaps_k, round(k, 6), abs_tol=2e-6)
    assert math.isclose(r.r2, round(r2, 6), abs_tol=2e-6)


def test_theil_sen_outlier_robust(spark):
    """Theil–Sen's whole point: one catastrophic outlier day does not
    move the slope.  Daily counts 10, 12, 14, 16, then a 300-event
    spike: six of the ten pairwise slopes are exactly 2, so the median
    slope stays 2.0, and the median residual pins the intercept to the
    clean days' line (OLS would report slope ≈ 60)."""
    from datetime import date, datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    counts = [10, 12, 14, 16, 300]
    rows = []
    eid = 0
    for day, n in enumerate(counts):
        for _ in range(n):
            rows.append((eid, datetime(2024, 3, 1 + day), 1, "a", 1.0, "{}"))
            eid += 1
    r = _with_events(spark, Q, rows, Q.q_events_theil_sen)[0]
    assert (r.n_days, r.n_pairs) == (5, 10)
    assert r.ts_slope == 2.0
    x0 = (date(2024, 3, 1) - date(1970, 1, 1)).days
    assert r.ts_intercept == round(10.0 - 2.0 * x0, 6)


def test_chi2_exact_independence_is_zero(spark):
    """A contingency table where the type mix is identical every day
    gives chi2 = 0 and Cramér's V = 0 (the independence anchor), with
    dof = (r-1)(k-1)."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = []
    eid = 0
    for day in (4, 5):          # Mon, Tue
        for t, n in (("click", 6), ("view", 3)):
            for _ in range(n):
                rows.append(
                    (eid, datetime(2024, 3, day), 1, t, 1.0, "{}")
                )
                eid += 1
    r = _with_events(spark, Q, rows, Q.q_events_chi2_type_dow)[0]
    assert (r.n_events, r.dof) == (18, 1)
    assert r.chi2 == 0.0
    assert r.cramers_v == 0.0


def test_seasonality_strength_anchors(spark):
    """Variance-decomposition anchors: one event per hour on day 1 and
    two per hour on day 2 means hour-of-day explains NOTHING
    (strength 0 — the variation is all at day level) while day-of-week
    explains EVERYTHING (strength 1 — two days, each its own dow,
    zero residual).  Peak slots: hod ties break to hour 0; dow peak is
    Tuesday's Spark index 3 with mean 48."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = []
    eid = 0
    for day, per_hour in ((4, 1), (5, 2)):      # Mon=1/hr, Tue=2/hr
        for h in range(24):
            for _ in range(per_hour):
                rows.append(
                    (eid, datetime(2024, 3, day, h, 30), 1, "a", 1.0, "{}")
                )
                eid += 1
    got = {r.component: r for r in
           _with_events(spark, Q, rows, Q.q_events_seasonality)}
    hod, dow = got["hour_of_day"], got["day_of_week"]
    assert hod.n_points == 48 and hod.strength == 0.0
    assert hod.peak_idx == 0 and hod.peak_mean == 1.5
    assert dow.n_points == 2 and dow.strength == 1.0
    assert dow.peak_idx == 3 and dow.peak_mean == 48.0


def test_permutation_test_null_and_signal_anchors(spark):
    """Randomization test anchors: identical arms give diff_obs = 0 so
    EVERY replicate ties or beats it → p = 1.0; fully separated arms
    give the add-one minimum p = 1/(R+1).  The md5 coin makes the
    whole thing deterministic across runs."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    def ev(pairs):
        return [(i, datetime(2024, 3, 1), 1, t, float(v), "{}")
                for i, (t, v) in enumerate(pairs)]

    same = ev([("click", v) for v in range(1, 21)]
              + [("error", v) for v in range(1, 21)])
    a = _with_events(spark, Q, same, Q.q_events_permutation_test)[0]
    b = _with_events(spark, Q, same, Q.q_events_permutation_test)[0]
    assert a == b                       # deterministic relabeling
    assert (a.n_a, a.n_b, a.diff_obs) == (20, 20, 0.0)
    assert a.n_replicates == Q.PERM_REPLICATES
    assert a.p_value == 1.0

    apart = ev([("click", v) for v in range(1, 21)]
               + [("error", v + 1000) for v in range(1, 21)])
    r = _with_events(spark, Q, apart, Q.q_events_permutation_test)[0]
    assert r.diff_obs == -1000.0
    assert r.p_value == round(1.0 / (Q.PERM_REPLICATES + 1), 6)


def _with_lineitem(spark, Q, rows, fn):
    """Run a registry query against an in-memory lineitem fixture with
    just the (l_orderkey, l_partkey) columns the graph builders use."""
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    orig = Q._t
    Q._t = lambda spark, sf, name, **k: li
    try:
        return fn(spark, "ignored").collect()
    finally:
        Q._t = orig


def test_adamic_adar_path_and_cycle(spark):
    """AA anchors: on the path 1–2–3 the only candidate is (1, 3) with
    score 1/ln 2 through the single shared neighbor; on the 4-cycle
    both diagonals score 2/ln 2 (two shared degree-2 neighbors each)
    and every existing edge is excluded from the output."""
    import math

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    path = [(0, 1), (0, 2), (4, 2), (4, 3)]      # baskets {1,2}, {2,3}
    got = _with_lineitem(spark, Q, path, Q.q_graph_adamic_adar)
    assert len(got) == 1
    r = got[0]
    assert (r.src, r.dst, r.n_common) == (1, 3, 1)
    assert r.aa_score == round(1 / math.log(2), 6)

    cycle = [(0, 1), (0, 2), (4, 2), (4, 3), (8, 3), (8, 4), (12, 4), (12, 1)]
    got = {(r.src, r.dst): r for r in
           _with_lineitem(spark, Q, cycle, Q.q_graph_adamic_adar)}
    assert set(got) == {(1, 3), (2, 4)}
    for r in got.values():
        assert r.n_common == 2
        assert r.aa_score == round(2 / math.log(2), 6)


def test_adamic_adar_tied_cut_is_key_deterministic(spark):
    """The sf1-sweep regression: 20 mirrored path components each
    yield one candidate pair with the SAME true score 1/ln 2, and the
    top-15 cut lands inside that tied group.  Raw float sums collide
    only to ~1 ulp (summation order differs per layout/engine), so
    ordering by them made the surviving five-of-ten at sf1 float
    noise; ordering by the ROUNDED score with (src, dst) ties must
    select exactly the 15 key-smallest pairs."""
    import math

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = []
    for i in range(20):
        off = 100 * i
        # baskets {1+off, 2+off}, {2+off, 3+off}: candidate (1, 3)+off
        rows += [(4 * i, 1 + off), (4 * i, 2 + off),
                 (1000 + 4 * i, 2 + off), (1000 + 4 * i, 3 + off)]
    got = _with_lineitem(spark, Q, rows, Q.q_graph_adamic_adar)
    assert len(got) == 15
    assert [r.src for r in got] == [1 + 100 * i for i in range(15)]
    for r in got:
        assert (r.dst, r.n_common) == (r.src + 2, 1)
        assert r.aa_score == round(1 / math.log(2), 6)


def test_assortativity_star_is_minus_one(spark):
    """A star is the maximally disassortative graph: every edge joins
    the degree-3 hub to a degree-1 leaf, so the endpoint-degree
    correlation is exactly -1; mean_degree is the DEGREE-WEIGHTED mean
    (averaged over edge endpoints, not nodes): (3·1 + 3·3)/6 = 2."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    star = [(0, 9), (0, 1), (1, 9), (1, 2), (2, 9), (2, 3)]
    r = _with_lineitem(spark, Q, star, Q.q_graph_assortativity)[0]
    assert (r.n_edges, r.n_nodes) == (3, 4)
    assert r.mean_degree == 2.0      # avg src-degree over doubled edges
    assert r.assortativity == -1.0


def test_compaction_plan_small_file_amplification(spark):
    """Compaction arithmetic: 64 tiny docs across all 32 task buckets
    → naive 32 files where 1 suffices (ratio 32); one 600 KB doc needs
    ceil(600001/262144) = 3 target files from a single task (ratio
    1/3 — the opposite failure, files too big)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [(i, "x", "en", "tiny", 99) for i in range(64)]
    rows.append((100, "y", "en", "huge", 600000))
    got = {r.source: r for r in
           _with_docs(spark, Q, rows, Q.q_sink_compaction_plan)}
    t = got["tiny"]
    assert (t.n_docs, t.total_bytes) == (64, 64 * 100)
    assert (t.planned_files, t.naive_files) == (1, 32)
    assert t.small_file_ratio == 32.0
    h = got["huge"]
    assert (h.total_bytes, h.planned_files, h.naive_files) == (600001, 3, 1)
    assert h.small_file_ratio == round(1 / 3, 6)


def test_simpson_uniform_vs_degenerate(spark):
    """Simpson anchors: a uniform 4-term source has index 1/4 and
    effective vocabulary exactly 4; a single-term source has index 1
    and effective vocabulary 1 (the template-spam signature even
    though its raw vocab is nonzero)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (0, "a b c d", "en", "uniform", 7),
        (1, "x x x x", "en", "spam", 7),
    ]
    got = {r.source: r for r in
           _with_docs(spark, Q, rows, Q.q_source_token_simpson)}
    u = got["uniform"]
    assert (u.vocab, u.n_tokens, u.simpson, u.effective_vocab) == (
        4, 4, 0.25, 4.0)
    s = got["spam"]
    assert (s.vocab, s.n_tokens, s.simpson, s.effective_vocab) == (
        1, 4, 1.0, 1.0)


def test_dedup_clusters_distributed_equals_driver_regime(spark):
    """The forced label-propagation regime must produce byte-identical
    (doc_id, cluster_id) labels to the driver-side union-find on the
    same sf0.001 pair set — the two regimes are one contract."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in Q.q_dedup_clusters(spark, sf).collect()]
    b = [tuple(r) for r in
         Q.q_dedup_clusters_distributed(spark, sf).collect()]
    assert a == b and len(a) > 0


def test_reservoir_ares_size_and_key_formula(spark):
    """A-Res semantics: every source yields exactly min(k, n_docs)
    rows with ranks 1..k; the weight key reproduces the md5 closed
    form; and a huge-weight doc is near-certain to be sampled (its
    key u^(1/w) → 1 as w grows)."""
    import hashlib

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [(i, "x", "en", "many", 50 + 7 * i) for i in range(10)]
    rows += [(100, "x", "en", "two", 60), (101, "x", "en", "two", 61)]
    rows.append((200, "x", "en", "heavy", 10**9))
    got = _with_docs(spark, Q, rows, Q.q_reservoir_sample_ares)
    by_src = {}
    for r in got:
        by_src.setdefault(r.source, []).append(r)
    assert len(by_src["many"]) == Q.RES_K
    assert sorted(r.rank for r in by_src["many"]) == [1, 2, 3]
    assert len(by_src["two"]) == 2
    assert [r.doc_id for r in by_src["heavy"]] == [200]
    r0 = by_src["heavy"][0]
    u = (int(hashlib.md5(b"200").hexdigest()[:8], 16) + 1.0) / 4294967296.0
    assert r0.weight_key == round(u ** (1.0 / 10**9), 6)
    assert r0.weight_key >= 0.999999   # near-certain inclusion


def test_mmr_rerank_matches_textbook_greedy(spark):
    """The engine's unrolled MMR must equal a straight-line Python
    implementation of Carbonell–Goldstein greedy selection (same
    6-dp rounding, same vec_id ties) on an irregular-angle fixture
    where diversity genuinely reorders the pure-relevance top-k."""
    import math

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    vecs = {
        0: [1.0, 0.0, 0.0],                       # the query
        1: [0.9, 0.435889894, 0.0],
        2: [0.9, 0.433, 0.051],                   # near-copy of 1
        3: [0.9, -0.435889894, 0.017],            # mirrored arm
        4: [0.7, 0.5, 0.5],
        5: [0.6, -0.3, 0.74],
        6: [0.2, 0.9, 0.38],
        7: [0.55, 0.1, 0.82],
        8: [0.97, 0.23, 0.06],
    }
    emb = spark.createDataFrame(
        [(k, [float(x) for x in v], 0) for k, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    )
    orig = Q._t
    Q._t = lambda spark, sf, name, **k: emb
    try:
        got = sorted(
            Q.q_mmr_rerank(spark, "ignored").collect(), key=lambda r: r.rank
        )
    finally:
        Q._t = orig

    # float32 storage first (Spark reads array<float>), then float64 math
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    V = {k: [f32(x) for x in v] for k, v in vecs.items()}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    rel = {k: round(cos(V[k], V[0]), 6) for k in V if k != 0}
    sel, out = [], []
    for t in range(1, Q.MMR_K + 1):
        best = None
        for c in sorted(rel):
            if c in sel:
                continue
            if t == 1:
                score = rel[c]
            else:
                pen = max(round(cos(V[c], V[s]), 6) for s in sel)
                score = round(
                    Q.MMR_LAMBDA * rel[c] - (1 - Q.MMR_LAMBDA) * pen, 6
                )
            if best is None or score > best[0]:
                best = (score, c)
        sel.append(best[1])
        out.append((t, best[1], rel[best[1]], best[0]))

    assert [(r.rank, r.vec_id, r.relevance, r.mmr_score) for r in got] == out
    # diversity must actually bite: selection differs from pure top-k
    top_rel = [k for k, _ in
               sorted(rel.items(), key=lambda kv: (-kv[1], kv[0]))][:Q.MMR_K]
    assert [r.vec_id for r in got] != top_rel


def test_km_survival_hand_computed_curve(spark):
    """KM against a hand-computed curve: 4 users with lifetimes
    0(death), 2(death), 2(censored), 5(censored) give S = 0.75, 0.5,
    0.5 — the censored users reduce the at-risk set without moving
    the product."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    d = lambda day: datetime(2024, 3, day)
    rows = [
        (0, d(1), 1, "a", 1.0, "{}"),                     # t=0 death
        (1, d(1), 2, "a", 1.0, "{}"), (2, d(3), 2, "a", 1.0, "{}"),  # t=2 death
        (3, d(6), 3, "a", 1.0, "{}"), (4, d(8), 3, "a", 1.0, "{}"),  # t=2 cens
        (5, d(5), 4, "a", 1.0, "{}"), (6, d(10), 4, "a", 1.0, "{}"),  # t=5 cens
    ]
    got = sorted(_with_events(spark, Q, rows, Q.q_user_survival_km),
                 key=lambda r: r.lifetime_days)
    assert [(r.lifetime_days, r.n_risk, r.n_deaths, r.n_censored, r.survival)
            for r in got] == [
        (0, 4, 1, 0, 0.75),
        (2, 3, 1, 1, 0.5),
        (5, 1, 0, 1, 0.5),
    ]


def test_km_survival_everyone_dies_hits_zero(spark):
    """When the last at-risk user dies (d = n at the final level) the
    curve must reach exactly 0 through the guard, not ln(0)."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    d = lambda day: datetime(2024, 3, day)
    rows = [
        (0, d(1), 1, "a", 1.0, "{}"), (1, d(9), 1, "a", 1.0, "{}"),   # t=8 death
        (2, d(8), 2, "a", 1.0, "{}"), (3, d(10), 2, "a", 1.0, "{}"),  # t=2 death
        (4, d(30), 3, "a", 1.0, "{}"),                                # t=0 cens
    ]
    got = {r.lifetime_days: r for r in
           _with_events(spark, Q, rows, Q.q_user_survival_km)}
    assert got[0].survival == 1.0      # only a censoring at t=0
    assert got[2].survival == 0.5
    assert got[8].survival == 0.0      # d = n: exact zero, no -inf


def test_dp_noisy_counts_closed_form(spark):
    """The Laplace deviate must reproduce the inverse-CDF closed form
    from the md5 uniform, bit-for-bit with the engine's rounding, and
    noisy_n - n must equal it."""
    import hashlib
    import math

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    from datetime import datetime

    rows = [(i, datetime(2024, 3, 1), 1, "click", 1.0, "{}")
            for i in range(7)]
    r = _with_events(spark, Q, rows, Q.q_dp_noisy_counts)[0]
    u = (int(hashlib.md5(b"click").hexdigest()[:8], 16) + 1.0) / 4294967297.0
    ctr = u - 0.5
    noise = -(1.0 / Q.DP_EPSILON) * math.copysign(1, ctr) * math.log(
        1 - 2 * abs(ctr))
    assert (r.event_type, r.n, r.epsilon) == ("click", 7, 1.0)
    assert r.laplace_noise == round(noise, 6)
    assert r.noisy_n == round(7 + noise, 6)


def test_watermark_loss_matches_python_model(spark):
    """Per-watermark drop counts must equal a straight Python replay
    of the md5 exponential-delay model, and loss is monotone
    non-increasing in the watermark."""
    import hashlib
    import math
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    n = 200
    rows = [(i, datetime(2024, 3, 1), 1, "a", 1.0, "{}") for i in range(n)]
    got = {r.watermark_s: r for r in
           _with_events(spark, Q, rows, Q.q_watermark_loss_audit)}

    def delay(eid):
        u = (int(hashlib.md5(str(eid).encode()).hexdigest()[:8], 16)
             + 1.0) / 4294967297.0
        return -Q.WM_MEAN_DELAY_S * math.log(u)

    delays = [delay(i) for i in range(n)]
    for w in Q.WM_GRID_S:
        expect = sum(1 for s in delays if s > w)
        assert (got[w].n_events, got[w].n_dropped) == (n, expect)
        assert got[w].loss_frac == round(expect / n, 6)
    fracs = [got[w].loss_frac for w in sorted(Q.WM_GRID_S)]
    assert fracs == sorted(fracs, reverse=True)


def test_join_key_skew_exact_buckets(spark):
    """Power-of-two bucketing: key counts 1,1,2,3,8 land in buckets
    0 (two keys), 1 (two keys), 3 (one key, the skew signature) with
    exact row masses and shares."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows, eid = [], 0
    for uid, cnt in ((10, 1), (11, 1), (12, 2), (13, 3), (14, 8)):
        for _ in range(cnt):
            rows.append((eid, datetime(2024, 3, 1), uid, "a", 1.0, "{}"))
            eid += 1
    got = {r.log2_c: r for r in
           _with_events(spark, Q, rows, Q.q_join_key_skew)}
    assert set(got) == {0, 1, 3}
    assert (got[0].n_keys, got[0].n_rows, got[0].max_key_rows) == (2, 2, 1)
    assert (got[1].n_keys, got[1].n_rows, got[1].max_key_rows) == (2, 5, 3)
    assert (got[3].n_keys, got[3].n_rows, got[3].max_key_rows) == (1, 8, 8)
    assert got[3].rows_share == round(8 / 15, 6)


def test_conformal_matches_python_recomputation(spark):
    """The conformal threshold must equal the ⌈(n+1)(1−α)⌉-th smallest
    calibration nonconformity recomputed in Python from the SAME
    cached features/weights, and coverage must be the exact held-out
    fraction under that threshold."""
    import hashlib
    import math

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    sf = "/root/testdata/sf0.001"
    got = Q.q_conformal_coverage(spark, sf).collect()[0]
    feats, w = Q._logreg_feats_and_weights(spark, sf)
    wr = w.collect()[0]
    cal, ev = [], []
    for r in feats.collect():
        z = wr.w1 * r.x1 + wr.w2 * r.x2 + wr.w3 * r.x3
        p = 1.0 / (1.0 + math.exp(-z))
        s = 1.0 - p if r.y == 1.0 else p
        half = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:4],
                   16) % 2
        (cal if half == 0 else ev).append(s)
    k = math.ceil((len(cal) + 1) * (1 - Q.CONF_ALPHA))
    thr = sorted(cal)[k - 1]
    cov = sum(1 for s in ev if s <= thr) / len(ev)
    assert (got.n_cal, got.k, got.n_eval) == (len(cal), k, len(ev))
    assert got.threshold == round(thr, 6)
    assert got.coverage == round(cov, 6)


def test_w2v_sampling_closed_forms(spark):
    """3/4-power lift and subsampling keep-prob against hand
    arithmetic: with counts a=8, b=1 the rare term's negative-sampling
    mass is boosted (lift > 1) and the common term's suppressed
    (lift < 1); keep-prob follows (√(f/t)+1)·t/f capped at 1."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [(0, "a a a a a a a a b", "en", "s", 17)]
    got = {r.term: r for r in
           _with_docs(spark, Q, rows, Q.q_word2vec_sampling_table)}
    z = 8 ** 0.75 + 1.0
    a, b = got["a"], got["b"]
    # note: a["count"], not a.count — Row attribute access collides
    # with tuple.count for a column of that name
    assert (a["count"], b["count"]) == (8, 1)
    assert a.p_negative == round(8 ** 0.75 / z, 6)
    assert b.p_negative == round(1.0 / z, 6)
    assert b.smoothing_lift > 1.0 > a.smoothing_lift   # tail boost
    t, fa = Q.W2V_SUBSAMPLE_T, 8 / 9
    assert a.p_keep == round(min(1.0, ((fa / t) ** 0.5 + 1) * t / fa), 6)
    fb = 1 / 9
    assert b.p_keep == round(min(1.0, ((fb / t) ** 0.5 + 1) * t / fb), 6)


def test_psi_drift_separation_and_smoothing(spark):
    """Even-half docs at length 40 (bucket 5), odd-half at length 100
    (bucket 6): complete separation gives two large finite
    contributions (add-1 smoothing, never ±inf), matching the closed
    form."""
    import math

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = []
    for i in range(10):
        n = 40 if i % 2 == 0 else 100
        rows.append((i, "x", "en", "s", n))
    got = {r.log2_len: r for r in
           _with_docs(spark, Q, rows, Q.q_corpus_psi_drift)}
    assert set(got) == {5, 6}
    assert (got[5].n_ref, got[5].n_cur) == (5, 0)
    assert (got[6].n_ref, got[6].n_cur) == (0, 5)
    p, q = (5 + 1) / (5 + 2), (0 + 1) / (5 + 2)
    expect = round((p - q) * math.log(p / q), 6)
    assert got[5].psi_contrib == expect
    assert got[6].psi_contrib == expect   # symmetric by construction


def test_cms_error_eval_exact_and_collision_regimes(spark):
    """Query level: a vocab far under the cell count is reported
    EXACT (frac_exact 1, zero error).  Operator level with a forced
    width of 2: collisions are inevitable, estimates stay one-sided
    (est >= true, strictly greater somewhere)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q
    from terraform_aws_lambda_kinesis_to_s3_spark.operators import (
        sketches as K,
    )

    rows = [(0, "a b c a", "en", "s", 7), (1, "b d", "en", "s", 3)]
    r = _with_docs(spark, Q, rows, Q.q_cms_error_eval)[0]
    assert (r.n_tokens, r.frac_exact) == (4, 1.0)
    assert (r.mean_overestimate, r.max_overestimate, r.rel_mass_error) == (
        0.0, 0, 0.0)

    tok = spark.createDataFrame(
        [(t,) for t in "abcdefgh" * 3], "token string"
    )
    sk = K.cms_sketch(tok, "token", depth=2, width=2)
    est = {
        r.token: r.cms_estimate
        for r in K.cms_estimate(
            sk, tok.select("token").distinct(), "token", depth=2, width=2
        ).collect()
    }
    assert all(v >= 3 for v in est.values())        # one-sided
    assert any(v > 3 for v in est.values())         # collisions happened


def test_langid_prf_blind_spot_semantics(spark):
    """PRF eval anchors: a language that is never predicted has recall
    0 and NULL precision/F1 (0/0, not 0); a perfectly-identified
    language scores 1.0 across the board when nothing else is
    predicted as it."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (0, "the and of x", "en", "s", 13),     # en markers → pred en
        (1, "der die und x", "de", "s", 13),    # de markers → pred de
        (2, "w x y z", "es", "s", 7),           # no markers → unknown
    ]
    got = {r.lang: r for r in
           _with_docs(spark, Q, rows, Q.q_langid_eval_prf)}
    en = got["en"]
    assert (en.n_true, en.n_pred, en.n_correct) == (1, 1, 1)
    assert (en.precision, en.recall, en.f1) == (1.0, 1.0, 1.0)
    es = got["es"]
    assert (es.n_true, es.n_pred, es.n_correct) == (1, 0, 0)
    assert es.recall == 0.0
    assert es.precision is None and es.f1 is None


def test_lsh_band_tuning_closed_form_single_pair(spark):
    """One pair at Jaccard 1/3: expected candidates per config must be
    exactly 1-(1-s^r)^b, recall@0.5 is NULL (no qualifying pairs), and
    candidate volume increases monotonically with bands."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (0, "a b c d", "en", "s", 7),    # grams {abc, bcd}
        (1, "a b c e", "en", "s", 7),    # grams {abc, bce} → J = 1/3
    ]
    got = {(r.bands, r.rows_per_band): r for r in
           _with_docs(spark, Q, rows, Q.q_lsh_band_tuning)}
    s = round(1 / 3, 6)
    for (b, r), row in got.items():
        assert row.expected_candidates == round(1 - (1 - s ** r) ** b, 6)
        assert row.expected_recall_at_s0 is None
        assert row.s_half == round((1 / b) ** (1 / r), 6)
    cands = [got[k].expected_candidates
             for k in sorted(got, key=lambda k: k[0])]
    assert cands == sorted(cands)        # more bands → more candidates


def test_brownout_islands_and_ordering(spark):
    """Gaps-and-islands semantics: three consecutive empty hours merge
    into ONE 3-hour window (empty spine hours count), an isolated
    1-event hour is its own window, and windows rank by length."""
    from datetime import datetime, timedelta

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    t0 = datetime(2024, 3, 1)
    rows, eid = [], 0
    for h in range(48):
        if h in (10, 11, 12):
            n = 0                        # 3-hour outage
        elif h == 30:
            n = 1                        # brownout hour
        else:
            n = 4
        for _ in range(n):
            rows.append((eid, t0 + timedelta(hours=h, minutes=5), 1,
                         "a", 1.0, "{}"))
            eid += 1
    got = _with_events(spark, Q, rows, Q.q_events_brownout_windows)
    assert [(r.start, r.n_hours, r.mean_count) for r in got] == [
        ("2024-03-01 10:00", 3, 0.0),
        ("2024-03-02 06:00", 1, 1.0),
    ]
    assert got[0].end == "2024-03-01 12:00"


def test_skyline_dominance_semantics(spark):
    """Pareto-front anchors: the max-x point always survives; a point
    dominated in both dimensions is dropped; a short-but-diverse
    corner survives.  (10,0.9) (20,0.5) (30,0.8) (40,0.3) →
    front {10, 30, 40}."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (0, "a b c d e f g h i i", "en", "s", 10),   # div 0.9
        (1, "a a b b", "en", "s", 20),               # div 0.5 dominated
        (2, "a b c d a", "en", "s", 30),             # div 0.8
        (3, "a a a a b b b c c c", "en", "s", 40),   # div 0.3 max-x
    ]
    got = _with_docs(spark, Q, rows, Q.q_skyline_quality_length)
    assert [(r.n_chars, r.diversity) for r in got] == [
        (10, 0.9), (30, 0.8), (40, 0.3)]


def test_adamic_adar_hub_cap_and_eval_closed_form(spark):
    """The AA skew gate, pinned on a star graph whose hub exceeds
    AA_DEG_CAP: the wedge join keeps only the hub's AA_DEG_CAP
    smallest-id neighbors (pairs of high-id leaves vanish), kept pairs
    still score with the TRUE hub degree, and aa_cap_eval's closed-form
    mass bookkeeping matches C(d,2)/ln(d) arithmetic exactly."""
    import math

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    hub, n_leaves = 1000, Q.AA_DEG_CAP + 3
    rows = [(4 * (k + 1), p) for k in range(n_leaves)
            for p in (hub, k + 1)]  # order 4k: {hub, leaf_k}
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    orig = Q._t
    try:
        Q._t = lambda spark, sf, name, **k: li
        aa = Q.q_graph_adamic_adar(spark, "x").collect()
        ev = Q.q_aa_cap_eval(spark, "x").collect()[0]
    finally:
        Q._t = orig
    # top-15 leaf pairs, deterministic (1,2),(1,3)...; every kept wedge
    # uses the TRUE degree weight 1/ln(n_leaves), and no leaf beyond the
    # hub's AA_DEG_CAP smallest ids appears anywhere in the scores
    assert len(aa) == 15
    w = round(1.0 / math.log(n_leaves), 6)
    assert all(r.aa_score == w and r.n_common == 1 for r in aa)
    assert aa[0].src == 1 and aa[0].dst == 2
    assert max(max(r.src, r.dst) for r in aa) <= Q.AA_DEG_CAP
    # closed-form eval: hub is the only capped center; leaves (deg 1)
    # carry zero wedge mass
    d, dc = float(n_leaves), float(Q.AA_DEG_CAP)
    assert ev.n_centers == n_leaves + 1
    assert ev.n_capped_centers == 1
    assert ev.wedge_mass_total == round(d * (d - 1) / 2 / math.log(d), 6)
    assert ev.wedge_mass_kept == round(dc * (dc - 1) / 2 / math.log(d), 6)
    assert ev.mass_kept_frac == round(
        (dc * (dc - 1)) / (d * (d - 1)), 6)


def test_dedup_threshold_sensitivity_empty_pair_space(spark):
    """Engine parity on degenerate input (r4 ADVICE item 2): documents
    sharing NO shingle still yield the full 9-row grid with n_pairs 0
    and NULL fraction — and DuckDB's rewritten ON TRUE left join agrees
    row for row."""
    import duckdb
    import pandas as pd

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en", "s", 9),
        (2, "one two three four five six seven", "en", "s", 9),
    ]
    got = _with_docs(spark, Q, rows, Q.q_dedup_threshold_sensitivity)
    assert len(got) == 9
    assert all(r.n_pairs == 0 and r.frac_of_pairs is None for r in got)
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            rows,
            columns=["doc_id", "text", "lang", "source", "n_chars"],
        ),
    )
    ora = con.execute(Q.SQL_DEDUP_THRESH_SENS).fetchdf()
    assert len(ora) == 9
    assert (ora["n_pairs"] == 0).all()
    assert ora["frac_of_pairs"].isna().all()


def test_filter_funnel_stage_attribution(spark):
    """Each gate drops exactly its planted doc: a short doc (length), a
    long no-marker doc (lang), a long repetitive doc (dup words), and
    an exact duplicate of a surviving doc (dedup); survival counts and
    per-stage drops are conserved."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    good = (
        "the quick brown fox " * 3
        + "jumps and runs of course now ok more unique words appear "
        + "here too with several extra distinct terms left"
    )  # 36 tokens, ~78% distinct -> passes every gate
    rows = [
        (1, good, "en", "s", 9),                       # survives all
        (2, "the and of it", "en", "s", 9),            # short: len fail
        (3, "alpha beta gamma delta " * 10, "en", "s", 9),   # no marker
        (4, "the the the the the " * 10, "en", "s", 9),      # dup words
        (5, good, "en", "s", 9),                       # exact dup of 1
    ]
    got = {r.stage: r for r in
           _with_docs(spark, Q, rows, Q.q_filter_funnel)}
    assert got["all"].n_pass == 5
    assert got["min_length"].n_pass == 4          # doc 2 dropped
    assert got["lang_en"].n_pass == 3             # doc 3 dropped
    assert got["dup_words"].n_pass == 2           # doc 4 dropped
    assert got["exact_dedup"].n_pass == 1         # doc 5 dropped
    assert [got[s].n_dropped_here for s in
            ("all", "min_length", "lang_en", "dup_words", "exact_dedup")
            ] == [0, 1, 1, 1, 1]
    assert got["exact_dedup"].survival_frac == 0.2


def test_scrub_eval_obfuscation_blind_spot(spark):
    """v2 plant generations: plain AND first-generation obfuscations
    (spaced email, spelled phone) are now caught — the round-5
    measure->fix->re-measure — while the second-generation plants
    (bracket email at %24==12, figure-dash phone at %24==16) remain
    the deliberate residual; clean docs are the FP control."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    # email: 3 plain, 24 spaced (caught since v2), 12 bracket (miss)
    # phone: 7 plain, 4 spelled (caught since v2), 16 dash (miss)
    rows = [(i, "plain template words here", "en", "s", 9)
            for i in (3, 24, 12, 7, 4, 16, 5)]
    got = {r.pii_type: r for r in _with_docs(spark, Q, rows, Q.q_scrub_eval)}
    assert (got["email"].n_docs, got["email"].n_detected) == (3, 2)
    assert (got["phone"].n_docs, got["phone"].n_detected) == (3, 2)
    assert (got["clean"].n_docs, got["clean"].n_detected) == (1, 0)
    assert got["email"].detect_rate == round(2 / 3, 6)


def test_corpus_snapshot_diff_statuses(spark):
    """doc_id arithmetic drives status exactly: %11==3 -> added,
    %11==7 -> removed, %13==0 -> changed, else unchanged — and the
    diff plan (full-outer join on fingerprints) reproduces it."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [(i, f"text body {i}", "en", "s", 9) for i in (3, 7, 13, 1)]
    got = {(r.source, r.status): r.n_docs for r in
           _with_docs(spark, Q, rows, Q.q_corpus_snapshot_diff)}
    assert got == {("s", "added"): 1, ("s", "removed"): 1,
                   ("s", "changed"): 1, ("s", "unchanged"): 1}


def test_logreg_hard_examples_ordering(spark):
    """Top-20 by ascending margin with doc_id tiebreak; margin is
    consistent with p_hat; result is deterministic across runs."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    sf = "/root/testdata/sf0.001"
    a = Q.q_logreg_hard_examples(spark, sf).collect()
    b = Q.q_logreg_hard_examples(spark, sf).collect()
    assert a == b
    assert len(a) == 20
    margins = [r.margin for r in a]
    assert margins == sorted(margins)
    for r in a:
        assert abs(r.margin - round(abs(r.p_hat - 0.5), 6)) <= 1e-6


def test_oov_vs_vocab_count_grain_cut(spark):
    """Whole-tie-group cut semantics: with counts {4:1 term, 2:2 terms,
    1:3 terms}, K=2 keeps only the cnt-4 group (the cnt-2 group would
    overshoot), K=3 keeps through cnt-2, K=6 keeps everything."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, "w4 w4 w2a w2b w1a", "en", "s", 9),
        (2, "w4 w4 w2a w2b w1b w1c", "en", "s", 9),
    ]
    orig = Q.OOV_VOCAB_GRID
    try:
        Q.OOV_VOCAB_GRID = (2, 3, 6)
        got = {r.vocab_k: r for r in
               _with_docs(spark, Q, rows, Q.q_oov_vs_vocab_curve)}
    finally:
        Q.OOV_VOCAB_GRID = orig
    assert (got[2].n_vocab, got[2].covered_tokens) == (1, 4)
    assert (got[3].n_vocab, got[3].covered_tokens) == (3, 8)
    assert (got[6].n_vocab, got[6].covered_tokens) == (6, 11)
    assert got[6].oov_frac == 0.0
    assert got[2].oov_frac == round(1 - 4 / 11, 6)


def test_cluster_best_quality_prefers_quality_not_min_id(spark):
    """The kept representative is the HIGHEST-quality member even when
    it has the larger doc_id (the exact policy difference vs
    dedup_survivors' keep-min-id), with min-doc_id on quality ties."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    # near-identical pair: doc 2 gains stopword hits ('the ... of a')
    # -> higher quality score than doc 1; shingle overlap keeps them
    # one LSH cluster
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [
        (1, t1 + "tail one", "en", "s", 9),
        (2, t1 + "the of a", "en", "s", 9),
        (3, "completely different text about other things entirely x y z",
         "en", "s", 9),
    ]
    got = _with_docs(spark, Q, rows, Q.q_cluster_best_quality)
    assert len(got) == 1
    r = got[0]
    assert r.cluster_id == 1 and r.n_members == 2
    assert r.kept_doc == 2          # quality beats min-id
    assert r.kept_quality > 0


def test_pq_adc_exact_reconstruction_gives_full_recall(spark):
    """When every database vector IS its label centroid, the PQ
    reconstruction is exact, so ADC distance equals exact L2 and
    recall is 1.0 — the identity that pins the LUT join wiring
    (subspace split, code argmin, LUT sum)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    def vec(seed):
        return [float((seed * 7 + i * 3) % 13) for i in range(64)]

    rows = [(i, vec(i), i) for i in range(4)]          # db = 4 centroids
    rows.append((100, [v + 0.25 for v in vec(0)], 0))  # query near vec 0
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    orig = Q._t
    try:
        Q._t = lambda spark, sf, name, **k: e
        got = Q.q_pq_adc_eval(spark, "x").collect()[0]
    finally:
        Q._t = orig
    # 1 query x 4 db vectors (ADC_K=5 > 4): both sides return all 4,
    # identically ranked
    assert (got.n_exact, got.n_adc, got.n_true_pos) == (4, 4, 4)
    assert got.recall == 1.0


def test_join_explosion_audit_closed_form(spark):
    """Known census {A:3, B:1}: exact self-join 10 rows vs uniform
    estimate 8 -> amplification 1.25; hottest key holds 75%."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [(i, datetime(2024, 3, 4, 9, i), 1, "a", 1.0, "{}")
            for i in range(3)]
    rows.append((9, datetime(2024, 3, 4, 10, 0), 2, "a", 1.0, "{}"))
    got = _with_events(spark, Q, rows, Q.q_join_explosion_audit)[0]
    assert (got.n_rows, got.n_keys) == (4, 2)
    assert got.exact_selfjoin_rows == 10
    assert got.uniform_estimate == 8.0
    assert got.amplification == 1.25
    assert got.top_key_share == 0.75


def test_text_encoding_audit_planted_anomalies(spark):
    """Each planted class is detected by the unicode regexes (not the
    arithmetic): doc 17 gains U+FFFD, doc 19 a control char, doc 23 an
    NBSP, doc 323 = 17*19 carries two classes but counts once in the
    anomaly rate; doc 1 stays clean."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [(i, "plain words here", "en", "s", 9)
            for i in (17, 19, 23, 323, 1)]
    got = _with_docs(spark, Q, rows, Q.q_text_encoding_audit)[0]
    assert got.n_docs == 5
    assert got.n_replacement == 2      # 17 and 323
    assert got.n_control == 2          # 19 and 323
    assert got.n_nbsp == 1             # 23
    assert got.anomaly_rate == round(4 / 5, 6)


def test_events_ohlc_first_last_semantics(spark):
    """Open/close are the deterministic first/last by (ts, event_id):
    a same-timestamp tie breaks on event_id, high/low are independent
    of arrival order."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, datetime(2024, 3, 4, 9, 0), 1, "a", 5.0, "{}"),   # open
        (2, datetime(2024, 3, 4, 9, 10), 1, "a", 9.0, "{}"),  # high
        (3, datetime(2024, 3, 4, 9, 20), 1, "a", 1.0, "{}"),  # low
        (5, datetime(2024, 3, 4, 9, 30), 1, "a", 7.0, "{}"),  # close: tie
        (4, datetime(2024, 3, 4, 9, 30), 1, "a", 6.0, "{}"),  # on ts ->
    ]                                                          # id 5 wins
    got = _with_events(spark, Q, rows, Q.q_events_ohlc_hourly)
    assert len(got) == 1
    r = got[0]
    assert (r.open, r.high, r.low, r.close) == (5.0, 9.0, 1.0, 7.0)
    assert r.n_events == 5


def test_label_noise_confident_joint_consistency(spark):
    """Confident-joint bookkeeping: counted docs never exceed the
    corpus, the noise rate is the off-diagonal share of counted docs,
    thresholds are valid probabilities, and the result is
    deterministic."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    sf = "/root/testdata/sf0.001"
    a = Q.q_label_noise_estimate(spark, sf).collect()[0]
    b = Q.q_label_noise_estimate(spark, sf).collect()[0]
    assert a == b
    counted = a.n_11 + a.n_10 + a.n_01 + a.n_00
    assert 0 < counted <= 500   # sf0.001 documents corpus size
    assert a.est_noise_rate == round((a.n_10 + a.n_01) / counted, 6)
    assert 0.0 < a.t1 < 1.0 and 0.0 < a.t0 < 1.0


def test_t_closeness_uniform_vs_skewed_group(spark):
    """A group mirroring the global distribution scores TV ~ 0; a
    one-bucket group's TV is the complement of that bucket's global
    share; missing buckets contribute their global mass."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = []
    eid = 0
    # type 'a', day 1: values spread over buckets 1..5 (100-wide bands)
    for v in (50.0, 150.0, 250.0, 350.0, 450.0):
        rows.append((eid, datetime(2024, 3, 1, 9, eid), 1, "a", v, "{}"))
        eid += 1
    # type 'b', day 1: all mass in bucket 1
    for _ in range(5):
        rows.append((eid, datetime(2024, 3, 1, 10, eid), 2, "b", 10.0, "{}"))
        eid += 1
    got = {r.event_type: r for r in
           _with_events(spark, Q, rows, Q.q_privacy_t_closeness)}
    # global: bucket1 = 6/10, buckets 2-5 = 1/10 each
    # group a: each bucket 1/5 -> TV = 0.5*(|.2-.6| + 4*|.2-.1|) = 0.4
    # group b: bucket1 only -> TV = 0.5*(|1-.6| + .4 missing) = 0.4
    assert got["a"].n_groups == 1 and got["b"].n_groups == 1
    assert got["a"].max_tv == 0.4
    assert got["b"].max_tv == 0.4
    assert got["a"].n_exceeding == 1  # 0.4 > t=0.2


def test_brier_decomposition_identity(spark):
    """Murphy identity: brier == reliability - resolution + uncertainty
    + mean within-bin variance of p (exactly, by algebra); all terms
    non-negative and deterministic."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    sf = "/root/testdata/sf0.001"
    a = Q.q_brier_decomposition(spark, sf).collect()[0]
    b = Q.q_brier_decomposition(spark, sf).collect()[0]
    assert a == b
    assert a.brier >= 0 and a.reliability >= 0 and a.resolution >= 0
    assert 0 <= a.uncertainty <= 0.25
    # the three-term approximation differs from brier only by the
    # within-bin variance of p (>= 0), so it must not exceed brier + eps
    approx = a.reliability - a.resolution + a.uncertainty
    assert approx <= a.brier + 1e-4
    assert a.resolution <= a.uncertainty + 1e-6  # resolution is bounded


def test_doremi_step_upweights_hard_sources(spark):
    """A source of rare tokens (high NLL under the global unigram LM)
    gains weight; an easy common-token source loses; weights stay a
    distribution summing to 1."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    common = "alpha " * 40
    rows = [
        (1, common.strip(), "en", "easy", 9),
        (2, common.strip(), "en", "easy", 9),
        (3, "rare1 rare2 rare3 rare4 rare5 rare6 rare7 rare8", "en",
         "hard", 9),
    ]
    got = {r.source: r for r in
           _with_docs(spark, Q, rows, Q.q_doremi_mixture_step)}
    assert got["hard"].excess_loss > 0
    assert got["easy"].excess_loss == 0.0
    assert got["hard"].w_new > got["hard"].w_old
    assert got["easy"].w_new < got["easy"].w_old
    assert abs(got["hard"].w_new + got["easy"].w_new - 1.0) < 1e-5


def test_embedding_snapshot_drift_identical_halves(spark):
    """Vectors identical across both halves -> cosine exactly 1, shift
    exactly 0 per label (the no-drift fixed point); counts track the
    md5 half split."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    base = [float(i % 7 + 1) for i in range(64)]
    rows = [(i, base, i % 2) for i in range(40)]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    orig = Q._t
    try:
        Q._t = lambda spark, sf, name, **k: e
        got = Q.q_embedding_snapshot_drift(spark, "x").collect()
    finally:
        Q._t = orig
    assert len(got) == 2
    for r in got:
        assert r.centroid_cosine == 1.0
        assert r.centroid_shift_l2 == 0.0
        assert r.n_a + r.n_b == 20


def test_label_centroid_similarity_orthogonal_and_identical(spark):
    """Orthogonal one-hot-block centroids score cosine 0 at L2
    sqrt(2); a duplicated label pair scores cosine 1 at L2 0."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    def onehot(k):
        return [1.0 if i == k else 0.0 for i in range(64)]

    rows = (
        [(i, onehot(0), 0) for i in range(3)]
        + [(10 + i, onehot(1), 1) for i in range(3)]
        + [(20 + i, onehot(0), 2) for i in range(3)]   # same as label 0
    )
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    orig = Q._t
    try:
        Q._t = lambda spark, sf, name, **k: e
        got = {(r.la, r.lb): r for r in
               Q.q_label_centroid_similarity(spark, "x").collect()}
    finally:
        Q._t = orig
    assert got[(0, 1)].centroid_cosine == 0.0
    assert got[(0, 1)].centroid_l2 == round(2 ** 0.5, 6)
    assert got[(0, 2)].centroid_cosine == 1.0
    assert got[(0, 2)].centroid_l2 == 0.0


def test_asof_tolerance_attribution_window(spark):
    """A purchase 30 min after the click attributes; one 2 h after
    does not; a user with no later purchase stays unattributed —
    pinning the tolerance null-out inside the registry query."""
    from datetime import datetime

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    rows = [
        (1, datetime(2024, 3, 4, 9, 0), 1, "click", 1.0, "{}"),
        (2, datetime(2024, 3, 4, 9, 30), 1, "purchase", 1.0, "{}"),  # in
        (3, datetime(2024, 3, 4, 10, 0), 2, "click", 1.0, "{}"),
        (4, datetime(2024, 3, 4, 12, 30), 2, "purchase", 1.0, "{}"), # out
        (5, datetime(2024, 3, 4, 11, 0), 3, "click", 1.0, "{}"),     # none
    ]
    got = _with_events(spark, Q, rows, Q.q_events_asof_tolerance)[0]
    assert got.n_clicks == 3
    assert got.n_attributed == 1
    assert got.n_purchases_used == 1
    assert got.attribution_rate == round(1 / 3, 6)


def test_theil_decomposition_properties(spark):
    """Equal values within every nation -> within-component exactly 0
    and total == between; scaling all revenues leaves Theil unchanged
    (scale invariance)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    custs = [(i, i % 2) for i in range(1, 9)]   # 8 customers, 2 nations
    cust_rows = [(i, f"c{i}", nk) for i, nk in custs]
    c = spark.createDataFrame(
        cust_rows, "c_custkey long, c_name string, c_nationkey long"
    )
    n = spark.createDataFrame(
        [(0, "A"), (1, "B")], "n_nationkey long, n_name string"
    )

    def run(scale):
        # nation A customers all earn 100*scale, nation B all 300*scale
        o = spark.createDataFrame(
            [(i * 10, i, (100.0 if nk == 0 else 300.0) * scale)
             for i, nk in custs],
            "o_orderkey long, o_custkey long, o_totalprice double",
        )
        tables = {"customer": c, "orders": o, "nation": n}
        orig = Q._t
        try:
            Q._t = lambda spark, sf, name, **k: tables[name]
            return Q.q_revenue_theil_decomposition(spark, "x").collect()[0]
        finally:
            Q._t = orig

    r1 = run(1.0)
    assert r1.theil_within == 0.0
    assert r1.theil_between > 0
    assert r1.theil_total == r1.theil_between
    r2 = run(7.0)
    assert r2.theil_total == r1.theil_total  # scale invariant


def _with_tables(tables, fn):
    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as Q

    orig = Q._t

    # the fixture loader keys its own shared-stage entries; unpersist
    # them afterwards so their InMemoryRelations do not pile up in the
    # suite's shared session across 1200+ tests
    try:
        Q._t = lambda spark, sf, name, **k: tables[name]
        return fn(Q)
    finally:
        Q._t = orig
        Q.clear_shared_stages()


def test_hll_error_eval_matches_python_reimpl(spark):
    """The pure-SQL HLL must agree bit-for-bit with an independent
    Python implementation of the same md5/60-bit/256-register sketch,
    and the exact count must ride the same pass."""
    import hashlib

    users = [(i * 7 + 3,) for i in range(120)]  # 120 distinct ids
    e = spark.createDataFrame(
        [(u[0],) for u in users] * 3, "user_id long"  # 3x duplication
    )

    def run(Q):
        return Q.q_hll_error_eval(spark, "x").collect()[0]

    got = _with_tables({"events": e}, run)
    assert got.exact_distinct == 120

    regs = {}
    for (u,) in users:
        hv = int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16)
        bucket, w = hv >> 52, hv & (2**52 - 1)
        rho = 53 if w == 0 else 53 - len(bin(w)[2:])
        regs[bucket] = max(regs.get(bucket, 0), rho)
    m = 256
    z = sum(2.0**-v for v in regs.values()) + (m - len(regs))
    v = m - len(regs)
    e_raw = (0.7213 / (1 + 1.079 / m)) * m * m / z
    import math

    est = m * math.log(m / v) if (e_raw <= 2.5 * m and v > 0) else e_raw
    assert got.hll_estimate == round(est, 3)
    assert abs(got.hll_estimate - 120) / 120 < 0.25  # sane at 256 registers


def test_sampled_quantile_error_eval_exact_side(spark):
    """On 1..1000 the exact side is closed-form ((n-1)p interpolation);
    the sample side must contain exactly the md5(event_id)%20==0 ids."""
    import hashlib

    e = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 1001)], "event_id long, value double"
    )

    def run(Q):
        return Q.q_sampled_quantile_error_eval(spark, "x").collect()[0]

    got = _with_tables({"events": e}, run)
    assert got.n_total == 1000
    assert got.exact_p50 == 500.5
    assert got.exact_p90 == round(1 + 0.9 * 999, 4)
    assert got.exact_p99 == round(1 + 0.99 * 999, 4)
    expected_sample = [
        i
        for i in range(1, 1001)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16) % 20 == 0
    ]
    assert got.n_sample == len(expected_sample)
    assert got.mean_rel_error >= 0.0


def test_quality_rater_kappa_edges(spark):
    """Perfect agreement with mixed marginals -> kappa exactly 1;
    one constant rater -> kappa 0 (chance-corrected away)."""

    def run(Q):
        return Q.q_quality_rater_kappa(spark, "x").collect()[0]

    long_clean = " ".join(["word"] * 60)          # ra=1, rb=1 (no stopwords)
    short_stopy = " ".join(["the"] * 10)          # ra=0, rb=0 (all stopwords)
    d1 = spark.createDataFrame(
        [(long_clean,)] * 2 + [(short_stopy,)] * 2, "text string"
    )
    got = _with_tables({"documents": d1}, run)
    assert got.both_pass == 2 and got.both_fail == 2
    assert got.observed_agreement == 1.0
    assert got.cohen_kappa == 1.0

    long_stopy = " ".join(["the"] * 60)           # ra=1, rb=0
    d2 = spark.createDataFrame(
        [(long_clean,)] * 1 + [(long_stopy,)] * 1 + [(short_stopy,)] * 2,
        "text string",
    )
    got2 = _with_tables({"documents": d2}, run)
    # rater B: rb=1 only for long_clean -> marginals (2/4, 1/4)
    assert got2.both_pass == 1 and got2.len_only == 1 and got2.both_fail == 2
    assert 0 < got2.cohen_kappa < 1


def test_epoch_repetition_plan_uniform_and_cap(spark):
    """Equal sources under a 4x budget -> exactly 4 epochs each and
    effective = tokens * 1.875; a small source always repeats at least
    as much as a big one (temperature flattening)."""
    text50 = " ".join(["w"] * 50)

    def run(Q):
        return {
            r.source: r
            for r in Q.q_epoch_repetition_plan(spark, "x").collect()
        }

    d1 = spark.createDataFrame(
        [(f"s{i}", text50) for i in range(4) for _ in range(3)],
        "source string, text string",
    )
    got = _with_tables({"documents": d1}, run)
    for r in got.values():
        assert r.tokens == 150
        assert r.repeats == 4.0
        assert r.effective_tokens == round(150 * (1 - 0.5**4) / 0.5, 2)

    d2 = spark.createDataFrame(
        [("big", text50)] * 9 + [("small", text50)],
        "source string, text string",
    )
    got2 = _with_tables({"documents": d2}, run)
    assert got2["small"].repeats >= got2["big"].repeats
    assert got2["small"].repeats == 4.0  # tiny source hits the epoch cap


def test_ab_sprt_daily_lift_crosses_and_null_wanders(spark):
    """A deterministic 1.2x-lift treatment arm must drift up and reach
    accept_h1; an exactly-null treatment arm must drift DOWN and
    accept_h0 (SPRT's power against the alternative under H0)."""
    import datetime

    def mk_events(treat_rate):
        rows = []
        eid = 0
        for day in range(1, 11):
            ts = datetime.datetime(2024, 3, day, 12, 0, 0)
            for arm, rate in ((0, 0.5), (1, treat_rate)):
                n_conv = int(100 * rate)
                for i in range(100):
                    et = "purchase" if i < n_conv else "view"
                    rows.append((eid, ts, 2 * eid + arm, et))
                    eid += 1
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, event_type string"
        )

    def run(Q):
        rows = Q.q_ab_sprt_daily(spark, "x").collect()
        return sorted(rows, key=lambda r: r.day)

    lifted = _with_tables({"events": mk_events(0.6)}, run)
    assert lifted[-1].decision == "accept_h1"
    assert lifted[-1].cum_llr > lifted[0].cum_llr > 0

    null = _with_tables({"events": mk_events(0.5)}, run)
    assert null[-1].decision == "accept_h0"
    assert null[-1].cum_llr < null[0].cum_llr < 0  # monotone drift down


def test_hll_merge_eval_lossless_with_overlap(spark):
    """Shards with heavily overlapping user sets: bucket-wise max merge
    must still equal the global sketch exactly (max associativity)."""
    rows = []
    for shard in ("a", "b", "c"):
        lo = {"a": 0, "b": 50, "c": 100}[shard]
        rows += [(shard, u) for u in range(lo, lo + 120)]  # overlaps
    e = spark.createDataFrame(rows, "event_type string, user_id long")

    def run(Q):
        return Q.q_hll_merge_eval(spark, "x").collect()[0]

    got = _with_tables({"events": e}, run)
    assert got.n_shards == 3
    assert got.merge_lossless is True
    assert got.merged_estimate == got.global_estimate


def test_tokenizer_fertility_closed_form(spark):
    """'abcd ab abcdefgh' -> 3 words, ceil-len/4 tokens 1+1+2=4,
    14 chars: fertility 4/3, chars/token 3.5."""
    d = spark.createDataFrame(
        [("s1", "abcd ab abcdefgh")], "source string, text string"
    )

    def run(Q):
        return Q.q_tokenizer_fertility_by_source(spark, "x").collect()[0]

    got = _with_tables({"documents": d}, run)
    assert got.n_words == 3
    assert got.n_bpe_tokens == 4
    assert got.fertility == round(4 / 3, 4)
    assert got.chars_per_token == 3.5


def test_outlier_method_agreement_masking(spark):
    """The textbook masking case: 10 outliers at 1000 among 90 zeros
    inflate sigma until the z-gate misses ALL of them, while the MAD
    gate (median 0, MAD 0) flags exactly the 10."""
    vals = [0.0] * 90 + [1000.0] * 10
    e = spark.createDataFrame([(v,) for v in vals], "value double")

    def run(Q):
        return Q.q_outlier_method_agreement(spark, "x").collect()[0]

    got = _with_tables({"events": e}, run)
    assert got.n_points == 100
    assert got.zscore_only == 0
    assert got.flagged_both == 0      # z-gate fully masked
    assert got.mad_only == 10         # robust gate catches all 10
    assert got.flag_jaccard == 0.0


def test_curriculum_schedule_phases_and_fracs(spark):
    """Three sources with strictly increasing chars-per-word land in
    phases 1..3 with within-phase fraction 1; difficulty ordering is
    preserved by phase assignment."""
    docs = [
        ("easy", "ab ab ab ab"),            # 2 chars/word
        ("mid", "abcd abcd abcd abcd"),     # 4 chars/word
        ("hard", "abcdefgh abcdefgh"),      # 8 chars/word
    ]
    d = spark.createDataFrame(docs, "source string, text string")

    def run(Q):
        return {r.source: r for r in Q.q_curriculum_schedule(spark, "x").collect()}

    got = _with_tables({"documents": d}, run)
    assert got["easy"].phase == 1
    assert got["mid"].phase == 2
    assert got["hard"].phase == 3
    for r in got.values():
        assert r.within_phase_frac == 1.0
    assert got["easy"].difficulty == 2.0
    assert got["hard"].difficulty == 8.0


def test_ngram_pairs_cache_threshold_equivalence(spark):
    """The `_ngram_pairs_capped` contract: filtering the threshold-0
    pair table by ``jaccard >= t`` is BIT-IDENTICAL to calling
    ``ngram_jaccard_pairs(threshold=t)`` directly, because jaccard is
    6-dp-rounded before any threshold compare.  Pinned on a fixture
    with pairs straddling the 0.1 cut both ways (including one at
    exactly the boundary after rounding)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.operators.dedup as D

    # twin pair (J=1), a near pair, and a far pair sharing one shingle
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota omega"
    far = "alpha beta gamma one two three four five six seven"
    d = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)],
        "doc_id long, text string",
    )
    for t in (0.05, 0.1, 0.3, 0.9):
        direct = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in D.ngram_jaccard_pairs(
                d, n=3, threshold=t, max_df=None
            ).collect()
        }
        from pyspark.sql import functions as F

        filtered = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in D.ngram_jaccard_pairs(d, n=3, threshold=0.0, max_df=None)
            .where(F.col("jaccard") >= t)
            .collect()
        }
        assert direct == filtered, f"threshold {t}: {direct} != {filtered}"


def test_ngram_pair_stats_equivalence(spark):
    """The `_ngram_pairs_capped` stats-table contract
    (`ngram_pair_stats`): deriving EITHER set-overlap metric from the
    full per-pair statistics is bit-identical to the dedicated
    operator — (a) select(jaccard) + threshold filter ==
    ngram_jaccard_pairs(threshold=t), (b) n_common/n_a containment
    derivation with filter-on-unrounded-then-round ==
    containment_pairs(threshold=t).  Fixture straddles both
    thresholds: a twin pair, an asymmetric short-quoted-in-long pair
    (high containment, low jaccard), and a far pair."""
    import terraform_aws_lambda_kinesis_to_s3_spark.operators.dedup as D
    from pyspark.sql import functions as F

    long_doc = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "one two three four five six seven eight nine ten"
    )
    short_doc = "alpha beta gamma delta epsilon zeta"  # contained
    far = "red orange yellow green blue indigo violet pink brown black"
    d = spark.createDataFrame(
        [(1, long_doc), (2, short_doc), (3, far), (4, long_doc)],
        "doc_id long, text string",
    )
    stats = D.ngram_pair_stats(d, n=3, max_df=None)

    for t in (0.05, 0.2, 0.9):
        direct = {
            tuple(r)
            for r in D.ngram_jaccard_pairs(d, n=3, threshold=t).collect()
        }
        derived = {
            tuple(r)
            for r in stats.where(F.col("jaccard") >= t)
            .select("doc_a", "doc_b", "jaccard")
            .collect()
        }
        assert direct == derived, f"jaccard@{t}"

    ca = F.col("n_common") / F.col("n_a")
    cb = F.col("n_common") / F.col("n_b")
    for t in (0.3, 0.5, 1.0):
        direct = {
            tuple(r)
            for r in D.containment_pairs(d, n=3, threshold=t).collect()
        }
        derived = {
            tuple(r)
            for r in stats.filter(F.greatest(ca, cb) >= t)
            .select(
                "doc_a",
                "doc_b",
                F.round(ca, 6).alias("containment_a"),
                F.round(cb, 6).alias("containment_b"),
            )
            .collect()
        }
        assert direct == derived, f"containment@{t}"
    # the asymmetric pair is actually exercised: short-in-long must
    # clear containment 1.0 while its jaccard stays low
    c = {
        (r.doc_a, r.doc_b): r
        for r in D.containment_pairs(d, n=3, threshold=1.0).collect()
    }
    assert (1, 2) in c and c[(1, 2)].containment_b == 1.0
    j = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(d, n=3, threshold=0.9).collect()
    }
    assert (1, 2) not in j and (1, 4) in j


def test_simhash_sig_cache_equivalence(spark):
    """The `_simhash_signatures` contract: (a) banding over a
    precomputed signature table (`simhash_hamming_pairs_on_sig`) is
    BIT-IDENTICAL to the inline `simhash_hamming_pairs`, (b) the
    registry queries riding the cache return exactly the fresh
    operator results, and (c) the second consumer in a session gets
    the SAME persisted DataFrame object (a cache hit, not a rebuild).
    Fixture: a twin pair (hamming 0), a near variant, and an
    unrelated doc."""
    import terraform_aws_lambda_kinesis_to_s3_spark.operators.dedup as D

    twin = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota omega"
    other = "one two three four five six seven eight nine ten"
    d = spark.createDataFrame(
        [(1, twin), (2, twin), (3, near), (4, other)],
        "doc_id long, text string",
    )
    inline = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_hamming_pairs(d, k=2).collect()
    }
    on_sig = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in D.simhash_hamming_pairs_on_sig(D.simhash(d), k=2).collect()
    }
    assert inline == on_sig and (1, 2, 0) in inline

    def run(Q):
        sig_cached = {
            (r.doc_id, r.simhash)
            for r in Q.q_simhash(spark, "sig-cache-fx").collect()
        }
        sig_fresh = {(r.doc_id, r.simhash) for r in D.simhash(d).collect()}
        assert sig_cached == sig_fresh
        # second consumer: same persisted object, not a rebuild
        first = Q._simhash_signatures(spark, "sig-cache-fx")
        assert Q._simhash_signatures(spark, "sig-cache-fx") is first
        pairs_cached = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in Q.q_simhash_hamming(spark, "sig-cache-fx").collect()
        }
        assert pairs_cached == inline
        return True

    assert _with_tables({"documents": d}, run)


def test_topk_stage_caches_hit_and_feed_eval(spark):
    """The `_cosine_topk10` / `_ivf_topk10` contract:
    the registry queries ARE the stages (their collected results equal
    fresh operator runs), the second consumer in a session gets the
    SAME persisted object, and ivf_eval_recall's counts derive from
    exactly those two persisted tables (n_exact == exact rows,
    n_ivf == ivf rows, hits == the id-pair intersection)."""
    import terraform_aws_lambda_kinesis_to_s3_spark.operators.similarity as S

    import numpy as np

    rows = []
    for i in range(24):
        vec = [float((i * 7 + j * 3) % 11) / 11.0 for j in range(64)]
        rows.append((i, i % 3, vec))
    e = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")

    def run(Q):
        exact_fresh = {
            (r.query_id, r.nn_id, r.rank)
            for r in S.cosine_topk_blas(
                e, e.filter(e.vec_id < 10), k=5
            ).collect()
        }
        exact_cached = {
            (r.query_id, r.nn_id, r.rank)
            for r in Q.q_cosine_topk(spark, "topk-cache-fx").collect()
        }
        assert exact_cached == exact_fresh and len(exact_fresh) == 50
        cents = S.label_centroids(e)
        ivf_fresh = {
            (r.query_id, r.nn_id, r.rank)
            for r in S.ivf_topk(
                e, e.filter(e.vec_id < 10), cents, k=5, nprobe=3
            ).collect()
        }
        ivf_cached = {
            (r.query_id, r.nn_id, r.rank)
            for r in Q.q_ivf_topk(spark, "topk-cache-fx").collect()
        }
        assert ivf_cached == ivf_fresh
        # cache-hit identity: second consumer gets the same object
        assert Q._cosine_topk10(spark, "topk-cache-fx") is Q._cosine_topk10(
            spark, "topk-cache-fx"
        )
        assert Q._ivf_topk10(spark, "topk-cache-fx") is Q._ivf_topk10(
            spark, "topk-cache-fx"
        )
        got = Q.q_ivf_eval_recall(spark, "topk-cache-fx").collect()[0]
        ep = {(q, n) for q, n, _ in exact_fresh}
        ip = {(q, n) for q, n, _ in ivf_fresh}
        assert got.n_exact == len(ep) and got.n_ivf == len(ip)
        assert got.n_true_pos == len(ep & ip)
        assert got.recall == round(len(ep & ip) / len(ep), 4)
        return True

    assert _with_tables({"embeddings": e}, run)


def test_envelope_cache_equivalence(spark):
    """The `_routed_envelope` contract: (a) routing over the shared
    parse->validate envelope (`route_records_on_envelope`) is
    row-identical to the unshared `route_records` path for every
    config the three riding queries ship (default, whitelist,
    Asia/Tokyo) — the envelope prefix must not depend on whitelist or
    timezone; (b) the registry queries riding the cache return exactly
    the unshared-path results; (c) the second consumer in a session
    gets the SAME persisted DataFrame object.  Fixture includes a
    record whose UTC date differs from its Tokyo date (23:30 UTC) so
    the timezone post-stage is actually exercised."""
    import datetime as dt

    from terraform_aws_lambda_kinesis_to_s3_spark.config import PipelineConfig
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.envelope import (
        extract_envelope,
        route_records,
        route_records_on_envelope,
        validate,
    )

    rows = [
        (1, "purchase", dt.datetime(2024, 6, 1, 10, 0, 0), 11, 1.5),
        (2, "click", dt.datetime(2024, 6, 1, 23, 30, 0), 12, 2.5),
        (3, "view", dt.datetime(2024, 6, 2, 0, 15, 0), 13, 3.5),
        (4, "purchase", dt.datetime(2024, 6, 30, 23, 45, 0), 14, 4.5),
    ]
    e = spark.createDataFrame(
        rows,
        "event_id long, event_type string, ts timestamp, user_id long, "
        "value double",
    )
    cfgs = {
        "default": PipelineConfig(),
        "whitelist": PipelineConfig(log_type_whitelist=("purchase", "click")),
        "tokyo": PipelineConfig(timezone="Asia/Tokyo"),
    }

    def run(Q):
        payloads = Q._events_payload(e)
        base = PipelineConfig()
        env = validate(extract_envelope(payloads, base), base)
        keyf = lambda r: (r.route, r.ym, r.dd, r.log_id)
        unshared = {}
        for name, cfg in cfgs.items():
            a = sorted(map(keyf, route_records(payloads, cfg).collect()))
            b = sorted(
                map(keyf, route_records_on_envelope(env, cfg).collect())
            )
            assert a == b, name
            unshared[name] = a
        # the Tokyo post-stage must actually shift the 23:30 UTC record
        assert ("click", "2024-06", "02") in {
            (r[0], r[1], r[2]) for r in unshared["tokyo"]
        }
        # registry queries riding the cache == unshared-path aggregates
        routed = {
            (r.log_type, r.ym, r.dd): r.n_records
            for r in Q.q_pipeline_route(spark, "env-cache-fx").collect()
        }
        from collections import Counter

        want = Counter((r[0], r[1], r[2]) for r in unshared["default"])
        assert routed == dict(want)
        wl = {
            r.route: r.n_records
            for r in Q.q_pipeline_whitelist(spark, "env-cache-fx").collect()
        }
        assert wl == {"purchase": 2, "click": 1}
        tz = {
            (r.ym, r.dd): r.n_records
            for r in Q.q_pipeline_tz(spark, "env-cache-fx").collect()
        }
        want_tz = Counter((r[1], r[2]) for r in unshared["tokyo"])
        assert tz == dict(want_tz)
        # 2024-07-01 in Tokyo exists only via the TZ shift of row 4
        assert tz.get(("2024-07", "01")) == 1
        # second consumer: same persisted object, not a rebuild
        first = Q._routed_envelope(spark, "env-cache-fx")
        assert Q._routed_envelope(spark, "env-cache-fx") is first
        return True

    assert _with_tables({"events": e}, run)


def test_dedup_method_agreement_identical_pair(spark):
    """Two identical docs are flagged by ALL three methods (Jaccard 1,
    hamming 0, exact ngram 1) so every pairwise method-agreement is
    exactly 1.0; an unrelated doc is flagged by none."""
    twin = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight nine ten"
    d = spark.createDataFrame(
        [(1, twin), (2, twin), (3, other)], "doc_id long, text string"
    )

    def run(Q):
        return Q.q_dedup_method_agreement(spark, "x-agree-test").collect()[0]

    got = _with_tables({"documents": d}, run)
    assert got.n_minhash == 1 and got.n_simhash == 1 and got.n_ngram == 1
    assert got.mn_common == 1 and got.ms_common == 1 and got.ns_common == 1
    assert got.mn_jaccard == 1.0
    assert got.ms_jaccard == 1.0
    assert got.ns_jaccard == 1.0


def test_salting_effectiveness_hot_key(spark):
    """One key with 992 of 1023 rows: the unsalted hot partition must
    carry >= the hot key's full mass, the salt must split it ~8 ways,
    and both sides must match an exact hashlib simulation."""
    import hashlib

    rows = [(77,)] * 992 + [(i,) for i in range(31)]
    e = spark.createDataFrame(rows, "user_id long")

    def run(Q):
        return Q.q_salting_effectiveness_eval(spark, "x").collect()[0]

    got = _with_tables({"events": e}, run)
    assert got.n_keys == 32 and got.n_rows == 1023

    # exact mirror of the md5 partition model
    def part(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 32

    counts = {77: 992, **{i: 1 for i in range(31)}}
    unsalted = {}
    for k, c in counts.items():
        p = part(str(k))
        unsalted[p] = unsalted.get(p, 0.0) + c
    salted = {}
    for k, c in counts.items():
        for s in range(8):
            p = part(f"{k}#{s}")
            salted[p] = salted.get(p, 0.0) + c / 8.0
    u_mx, s_mx = max(unsalted.values()), max(salted.values())
    assert got.max_share_unsalted == round(u_mx / 1023, 6)
    assert got.max_share_salted == round(s_mx / 1023, 6)
    assert got.makespan_gain == round(u_mx / s_mx, 4)
    # the salt genuinely splits the hot key: gain must be substantial
    # (ideal 8x, here two salts collide into one partition -> ~4x)
    assert got.makespan_gain > 3.0


def test_hash_embedding_fidelity_perfect_on_twins(spark):
    """Twin docs (jaccard 1) vs a disjoint-vocab pair (jaccard joins
    drop it): identical docs must score cosine exactly 1.0; with two
    twin-pairs of different similarity the correlation is defined and
    positive."""
    t1 = "alpha beta gamma delta epsilon zeta"
    t2 = "alpha beta gamma delta epsilon omega"   # 5/7 shingle overlap-ish
    d = spark.createDataFrame(
        [(1, t1), (2, t1), (3, t2), (4, "one two three four five six")],
        "doc_id long, text string",
    )

    def run(Q):
        return Q.q_hash_embedding_fidelity_eval(spark, "x-fid").collect()[0]

    got = _with_tables({"documents": d}, run)
    # pair (1,2) identical -> jac 1, cosine 1; pairs via shared shingles only
    assert got.n_pairs >= 1
    assert got.mean_cosine <= 1.0
    # identical docs dominate: with a single (1,2)-style pair at jac 1
    # the mean jaccard is high and cosine for it is exactly 1
    if got.n_pairs == 1:
        assert got.mean_jaccard == 1.0 and got.mean_cosine == 1.0


def test_hash_dim_fidelity_sweep_variants_and_twins(spark):
    """Twin docs: every variant row must exist (word x 3 dims +
    shingle x 1024) with n_pairs equal across variants, and the
    shingle variant scores the twin pair at cosine exactly 1."""
    twin = "alpha beta gamma delta epsilon zeta"
    d = spark.createDataFrame(
        [(1, twin), (2, twin), (3, "one two three four five six")],
        "doc_id long, text string",
    )

    def run(Q):
        return {
            (r.feature, r.dim): r
            for r in Q.q_hash_dim_fidelity_sweep(spark, "x-sweep").collect()
        }

    got = _with_tables({"documents": d}, run)
    assert set(got) == {("word", 64), ("word", 256), ("word", 1024),
                        ("shingle", 1024)}
    n = {r.n_pairs for r in got.values()}
    assert len(n) == 1  # same pair space for every variant
    # the only pair is the twin pair: cosine 1 under every featurization
    for r in got.values():
        assert r.mean_cosine == 1.0


def test_zonemap_pruning_matches_python_mirror(spark):
    """1024 events over 64 days with a scrambled arrival order: both
    layouts' file counts must match an exact pure-Python mirror of the
    zone-map overlap check and the closed-form CDF file arithmetic."""
    import datetime

    d0 = datetime.date(2024, 1, 1)
    rows = []
    days = {}
    for i in range(1024):
        day = ((i % 64) * 37 + i // 64) % 64
        days[i] = day
        rows.append((i, datetime.datetime.combine(d0 + datetime.timedelta(days=day), datetime.time(12, 0))))
    e = spark.createDataFrame(rows, "event_id long, ts timestamp")

    def run(Q):
        return {r.win_days: r for r in Q.q_zonemap_pruning_eval(spark, "x").collect()}

    got = _with_tables({"events": e}, run)
    n = 1024.0
    per_day = [0] * 64
    for day in days.values():
        per_day[day] += 1
    zones = {}
    for i, day in days.items():
        f = i % 64
        mn, mx = zones.get(f, (99, -1))
        zones[f] = (min(mn, day), max(mx, day))
    for w in (1, 7, 30):
        lo, hi = 10, 10 + w
        c_before = sum(per_day[:lo])
        c_in = sum(per_day[lo:hi])
        files_hash = sum(1 for mn, mx in zones.values() if mx >= lo and mn < hi)
        import math

        files_clustered = (
            0
            if c_in == 0
            else math.floor((c_before + c_in - 1) * 64 / n)
            - math.floor(c_before * 64 / n)
            + 1
        )
        def rha(x, nd):  # half-away-from-zero, matching F.round / DuckDB
            import math

            return math.floor(x * 10**nd + 0.5) / 10**nd

        r = got[w]
        assert r.selectivity == rha(c_in / n, 6)
        assert r.files_hash == files_hash
        assert r.files_clustered == files_clustered
        assert r.skip_frac_hash == rha(1 - files_hash / 64, 4)
        assert r.skip_frac_clustered == rha(1 - files_clustered / 64, 4)
    # the scrambled arrival layout must be strictly worse at w=1
    assert got[1].files_hash > got[1].files_clustered


def test_topk_shard_merge_exact_when_nothing_dropped(spark):
    """Every shard's vocabulary fits inside K=20, so thresholds are 0,
    every estimate is exact, and every bound trivially holds."""
    docs = []
    for s in range(8):
        docs.append((s, "zz zz zz " + f"u{s}a u{s}b u{s}c"))

    def run(Q):
        return Q.q_topk_shard_merge_eval(spark, "x").collect()

    rows = _with_tables(
        {
            "documents": spark.createDataFrame(
                docs, "doc_id long, text string"
            )
        },
        run,
    )
    byterm = {r.term: r for r in rows}
    assert byterm["zz"].true_rank == 1
    for r in rows:
        assert r.est_count == r.true_count
        assert r.underestimate == 0 and r.error_bound == 0
        assert r.bound_holds


def test_topk_shard_merge_bound_covers_dropped_shard(spark):
    """'yy' is below shard 0's top-20 cut (count 1 vs threshold 2) but
    heavy in shard 1: the merged estimate understates by exactly the
    dropped shard-0 count, within the published bound."""
    f = " ".join(f"f{i} f{i}" for i in range(22))  # 22 terms, count 2 each
    docs = [
        (0, f + " yy"),  # shard 0: yy count 1, dropped (threshold 2)
        (1, " ".join(["yy"] * 30) + " aa"),  # shard 1: yy kept
    ]

    def run(Q):
        return {
            r.term: r for r in Q.q_topk_shard_merge_eval(spark, "x").collect()
        }

    got = _with_tables(
        {
            "documents": spark.createDataFrame(
                docs, "doc_id long, text string"
            )
        },
        run,
    )
    yy = got["yy"]
    assert yy.true_count == 31 and yy.est_count == 30
    assert yy.underestimate == 1
    assert yy.error_bound == 2  # shard 0's 20th-largest count
    assert yy.bound_holds


def test_ndcg_is_one_when_ranking_matches_relevance(spark):
    """Equal-length docs with monotone query-term tf: BM25 order equals
    the raw-tf relevance order, so DCG == IDCG and nDCG == 1."""
    docs = [
        (1, "shuffle shuffle shuffle shuffle p p p p"),
        (2, "shuffle shuffle p p p p p p"),
        (3, "shuffle p p p p p p p"),
    ]

    def run(Q):
        return Q.q_ndcg_retrieval_eval(spark, "x").collect()

    rows = _with_tables(
        {
            "documents": spark.createDataFrame(
                docs, "doc_id long, text string"
            )
        },
        run,
    )
    assert len(rows) == 1  # only query 1's terms appear in the corpus
    r = rows[0]
    assert r.qid == 1
    assert r.dcg == r.idcg
    assert r.ndcg == 1.0


def test_fleiss_kappa_perfect_agreement(spark):
    """Docs engineered so every rater votes the same way per doc (one
    all-positive doc, one all-negative): P_i = 1 for every item, so
    kappa == 1 despite mixed marginals."""
    long_doc = " ".join(["wonderful"] * 60)  # 60 words, 0 stopwords, 9 cpw
    short_doc = " ".join(["the"] * 20)  # 20 words, all stopwords, ~4 cpw
    d = spark.createDataFrame(
        [(1, long_doc, len(long_doc)), (2, short_doc, len(short_doc))],
        "doc_id long, text string, n_chars long",
    )

    def run(Q):
        return Q.q_fleiss_kappa_raters(spark, "x").collect()[0]

    got = _with_tables({"documents": d}, run)
    assert got.n_docs == 2
    assert got.observed_pbar == 1.0
    assert got.p_positive == 0.5
    assert got.fleiss_kappa == 1.0


def test_contribution_cap_known_histogram(spark):
    """User 1: 20 type-A events; user 2: 2 type-B events.  Every cap's
    kept counts and L1 bias must match hand arithmetic."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [(i, t0 + datetime.timedelta(minutes=i), 1, "A") for i in range(20)]
    rows += [
        (100 + i, t0 + datetime.timedelta(minutes=i), 2, "B") for i in range(2)
    ]
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )

    def run(Q):
        return {r.cap: r for r in Q.q_contribution_cap_eval(spark, "x").collect()}

    got = _with_tables({"events": e}, run)
    n = 22.0

    def l1(ca, cb):
        tot = ca + cb
        return round(abs(ca / tot - 20 / n) + abs(cb / tot - 2 / n), 6)

    assert got[1].kept_rows == 2 and got[1].type_dist_l1_bias == l1(1, 1)
    assert got[4].kept_rows == 6 and got[4].type_dist_l1_bias == l1(4, 2)
    assert got[16].kept_rows == 18 and got[16].type_dist_l1_bias == l1(16, 2)
    assert got[16].kept_frac == round(18 / n, 6)


def test_bloom_fpr_matches_hashlib_mirror(spark):
    """Tiny id universe: measured FPR must equal an exact hashlib
    mirror of the md5 position model, and theoretical FPR must be
    monotone in member count."""
    import datetime
    import hashlib

    t0 = datetime.datetime(2024, 1, 1)
    e = spark.createDataFrame(
        [(i, t0, 1, "A") for i in range(256)],
        "event_id long, ts timestamp, user_id long, event_type string",
    )

    def run(Q):
        return sorted(
            Q.q_bloom_fpr_eval(spark, "x").collect(), key=lambda r: r.variant
        )

    rows = _with_tables({"events": e}, run)

    def pos(k):
        return {
            int(hashlib.md5(f"b{j}|{k}".encode()).hexdigest()[:8], 16) % 4096
            for j in range(3)
        }

    members = {k: (0 if (k // 2) % 16 == 0 else 1 if (k // 2) % 4 == 0 else 2)
               for k in range(0, 256, 2)}
    probes = list(range(1, 256, 2))
    for v, r in enumerate(rows):
        mset = set()
        for k, tag in members.items():
            if tag <= v:
                mset |= pos(k)
        fp = sum(1 for k in probes if pos(k) <= mset)
        assert r.n_members == sum(1 for t in members.values() if t <= v)
        assert r.bits_set == len(mset)
        assert r.n_probes == len(probes)
        assert r.n_false_pos == fp
    assert (
        rows[0].theoretical_fpr
        <= rows[1].theoretical_fpr
        <= rows[2].theoretical_fpr
    )


def test_cv_fold_balance_mirror_and_shares(spark):
    """Fold assignment must equal the md5 mirror; per-fold shares sum
    to 1 and global shares are label-constant."""
    import hashlib

    docs = [(i, f"t{i}", "en" if i % 3 else "de", 5) for i in range(60)]
    d = spark.createDataFrame(docs, "doc_id long, text string, lang string, n_chars long")

    def run(Q):
        return Q.q_cv_fold_balance(spark, "x").collect()

    rows = _with_tables({"documents": d}, run)
    mirror = {}
    for i, _, lang, _ in docs:
        f = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 5
        mirror[(f, lang)] = mirror.get((f, lang), 0) + 1
    assert {(r.fold, r.lang): r.n_docs for r in rows} == mirror
    from collections import defaultdict

    per_fold = defaultdict(float)
    for r in rows:
        per_fold[r.fold] += r.share_in_fold
    for s in per_fold.values():
        assert abs(s - 1.0) < 1e-9


def test_chao1_closed_form_and_short_doc_guard(spark):
    """Chao1 on a hand-computable shingle spectrum: counts {"a b c": 2,
    "b c d": 1, "x y z": 1} give V=3, N=4, F1=2, F2=1 ->
    chao1 = 3 + 2*1/(2*2) = 3.5, coverage = 1 - 2/4 = 0.5.  The 2-word
    doc must contribute NOTHING (sequence(0,-1) descends in Spark; the
    null filter pins the oracle's empty-generate_series semantics)."""
    d = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b c d"),
            (3, "x y z"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )

    def run(Q):
        return Q.q_chao1_vocab_richness(spark, "x").collect()[0]

    got = _with_tables({"documents": d}, run)
    assert got.shingles_seen == 3
    assert got.n_shingles == 4
    assert got.singletons == 2
    assert got.doubletons == 1
    assert got.chao1_estimate == 3.5
    assert got.goods_coverage == 0.5
    assert got.unseen_multiplier == round(3.5 / 3, 4)


def test_isotonic_pav_pools_hand_fixture(spark):
    """PAV minimax on a 4-populated-bin fixture: raw rates
    [1.0, 0.0, 0.5, 1.0] with weights [2, 2, 2, 1] must pool the
    leading violation to 0.5 and pass the rest through ->
    iso = [0.5, 0.5, 0.5, 1.0].  cpw is pinned directly via n_chars on
    1-word docs (cpw = n_chars), so lo=0, hi=3 put the docs in bins
    {0, 3, 6, 9} exactly; y=1 for the non-stopword doc, 0 for 'the'."""
    rows = []

    def doc(i, cpw, y):
        rows.append((i, "zed" if y else "the", cpw))

    doc(1, 0, 1)
    doc(2, 0, 1)  # bin 0: rate 1.0
    doc(3, 1, 0)
    doc(4, 1, 0)  # bin 3: rate 0.0
    doc(5, 2, 1)
    doc(6, 2, 0)  # bin 6: rate 0.5
    doc(7, 3, 1)  # bin 9: rate 1.0
    d = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")

    def run(Q):
        return {
            r.bin: r for r in Q.q_isotonic_calibration(spark, "x").collect()
        }

    got = _with_tables({"documents": d}, run)
    assert set(got) == {0, 3, 6, 9}
    assert [got[b].raw_rate for b in (0, 3, 6, 9)] == [1.0, 0.0, 0.5, 1.0]
    assert [got[b].iso_rate for b in (0, 3, 6, 9)] == [0.5, 0.5, 0.5, 1.0]
    assert [got[b].n_docs for b in (0, 3, 6, 9)] == [2, 2, 2, 1]


def test_quantile_merge_rank_error_python_mirror(spark):
    """values 1..64 (one per bucket by construction: the bin width
    63/64 makes floor((v-1)*64/63) a bijection onto 0..63), 8 shards.
    Every estimate and rank error must match a pure-Python mirror of
    the interpolation arithmetic, and the shard-merged histogram must
    equal the direct one (0 mismatched buckets)."""
    import math

    vals = list(range(1, 65))
    e = spark.createDataFrame(
        [(v - 1, float(v)) for v in vals], "event_id long, value double"
    )

    def run(Q):
        return {
            r.target_q: r
            for r in Q.q_quantile_merge_eval(spark, "x").collect()
        }

    got = _with_tables({"events": e}, run)

    def rha(x, nd):  # half-away-from-zero, matching F.round
        return math.floor(x * 10**nd + 0.5) / 10**nd

    lo, hi, n = 1.0, 64.0, 64.0
    for q in (0.5, 0.9, 0.99):
        # bucket b has before=b, c=1; the probe lands where b < q*n <= b+1
        b = math.ceil(q * n) - 1
        v_est = lo + (hi - lo) / 64 * (b + (q * n - b) / 1.0)
        achieved = sum(1 for v in vals if v <= v_est) / n
        r = got[q]
        assert r.est_value == rha(v_est, 6)
        assert r.achieved_rank == rha(achieved, 6)
        assert r.rank_error == rha(abs(achieved - q), 6)
        assert r.merge_mismatch_buckets == 0


def test_quantile_bucket_sweep_mirror_and_monotone(spark):
    """All 9 (geometry, quantile) cells must match a pure-Python mirror
    of the derive-from-256 binning + interpolation arithmetic, and the
    worst-case rank error must be non-increasing in bucket count."""
    import math

    vals = [float(v) for v in range(1, 65)]
    e = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "event_id long, value double"
    )

    def run(Q):
        return {
            (r.n_buckets, r.target_q): r
            for r in Q.q_quantile_bucket_sweep(spark, "x").collect()
        }

    got = _with_tables({"events": e}, run)
    assert len(got) == 9

    def rha(x, nd):
        return math.floor(x * 10**nd + 0.5) / 10**nd

    lo, hi, n = 1.0, 64.0, 64.0
    worst = {}
    for nb in (16, 64, 256):
        census = {}
        for v in vals:
            b256 = min(int(math.floor((v - lo) * 256 / (hi - lo))), 255)
            b = int(math.floor(b256 / (256 / nb)))
            census[b] = census.get(b, 0) + 1
        for q in (0.5, 0.9, 0.99):
            before = 0
            for b in sorted(census):
                c = census[b]
                if before < q * n <= before + c:
                    v_est = lo + (hi - lo) / nb * (
                        b + (q * n - before) / c
                    )
                    break
                before += c
            achieved = sum(1 for v in vals if v <= v_est) / n
            r = got[(nb, q)]
            assert r.est_value == rha(v_est, 6)
            assert r.achieved_rank == rha(achieved, 6)
            assert r.rank_error == rha(abs(achieved - q), 6)
            worst[nb] = max(worst.get(nb, 0.0), r.rank_error)
    assert worst[16] >= worst[64] >= worst[256]


def test_cross_split_contamination_twin_fixture(spark):
    """Hand-placed twins: pick doc_ids whose md5 buckets land one copy
    in train and one in test/val, give them identical text (jaccard
    1.0), plus unique-text docs in every split that must NOT count.
    The readout must be exactly the planted leakage."""
    import hashlib

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 10

    train_ids = [i for i in range(200) if bucket(i) <= 7]
    val_ids = [i for i in range(200) if bucket(i) == 8]
    test_ids = [i for i in range(200) if bucket(i) == 9]
    assert len(val_ids) >= 3 and len(test_ids) >= 3

    twin_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    twin_b = "north south east west up down left right front back"
    docs = []
    # one train/test twin pair, one train/val NEAR-dup pair —
    # disjoint vocabularies so the two groups cannot cross-pair
    docs.append((train_ids[0], twin_a))
    docs.append((test_ids[0], twin_a))
    docs.append((train_ids[1], twin_b))
    docs.append((val_ids[0], twin_b + " center"))  # near-dup, J = 8/9
    # unique fillers in every split (no shared shingles)
    fillers = [
        (train_ids[2], "one two three four five six seven eight nine ten"),
        (val_ids[1], "red orange yellow green blue indigo violet pink brown black"),
        (test_ids[1], "cat dog bird fish horse cow sheep goat duck hen"),
    ]
    docs += fillers
    d = spark.createDataFrame(docs, "doc_id long, text string")

    def run(Q):
        return {
            r.split: r
            for r in Q.q_cross_split_contamination(spark, "twin-fx").collect()
        }

    got = _with_tables({"documents": d}, run)
    assert set(got) == {"val", "test"}
    assert got["test"].n_docs == 2 and got["val"].n_docs == 2
    assert got["test"].n_contaminated == 1
    assert got["val"].n_contaminated == 1
    assert got["test"].contamination_rate == 0.5
    assert got["test"].max_jaccard == 1.0  # identical twins
    # the near-dup val pair: 8 of the twin's shingles in a 9-shingle doc
    assert got["val"].max_jaccard == round(8 / 9, 6)
    assert got["test"].n_cross_pairs == 1 and got["val"].n_cross_pairs == 1


def test_context_length_plan_hand_counts(spark):
    """Token counts {5, 40, 70, 100}: every cell of the 3-geometry
    census is hand-computable."""
    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    d = spark.createDataFrame(
        [(1, words(5)), (2, words(40)), (3, words(70)), (4, words(100))],
        "doc_id long, text string",
    )

    def run(Q):
        return {
            r.max_len: r
            for r in Q.q_context_length_plan(spark, "x").collect()
        }

    got = _with_tables({"documents": d}, run)
    toks = 5 + 40 + 70 + 100  # 215
    # L=32: docs over = 3; kept = 5+32+32+32 = 101
    assert got[32].docs_truncated == 3
    assert got[32].tokens_kept == 101
    assert got[32].frac_docs_truncated == 0.75
    assert got[32].token_mass_lost == round(1 - 101 / toks, 6)
    # L=64: over = 2; kept = 5+40+64+64 = 173
    assert got[64].docs_truncated == 2
    assert got[64].tokens_kept == 173
    # L=96: over = 1; kept = 5+40+70+96 = 211
    assert got[96].docs_truncated == 1
    assert got[96].tokens_kept == 211
    assert got[96].token_mass_lost == round(1 - 211 / toks, 6)


def test_dedup_source_flow_cells(spark):
    """Two cross-source twin pairs + one intra-source twin pair with
    disjoint vocabularies: the flow matrix must be exactly those three
    cells, unordered-normalized, with jaccard 1.0 (identical texts)."""
    ta = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    tb = "north south east west up down left right front back"
    tc = "one two three four five six seven eight nine ten"
    docs = [
        (1, ta, "srcA"), (2, ta, "srcB"),      # A <-> B
        (3, tb, "srcC"), (4, tb, "srcA"),      # A <-> C
        (5, tc, "srcB"), (6, tc, "srcB"),      # B diagonal
        (7, "cat dog bird fish horse cow sheep goat duck hen", "srcC"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string, source string")

    def run(Q):
        return {
            (r.src_lo, r.src_hi): r
            for r in Q.q_dedup_source_flow(spark, "flow-fx").collect()
        }

    got = _with_tables({"documents": d}, run)
    assert set(got) == {("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcB")}
    for cell in got.values():
        assert cell.n_pairs == 1
        assert cell.n_strong_pairs == 1
        assert cell.max_jaccard == 1.0
        assert cell.mean_jaccard == 1.0


def test_ab_fdr_bh_matches_md5_mirror(spark):
    """Every cell — arm split, per-replicate coins, exact-integer
    extremeness comparisons, BH step-up — must match a pure-Python
    mirror on a 2-type fixture (R is the module constant)."""
    import hashlib
    from fractions import Fraction

    import terraform_aws_lambda_kinesis_to_s3_spark.plans.queries as QQ

    rows = []
    for i in range(60):
        rows.append((i, i % 9, "tA" if i % 2 else "tB", float(1 + i % 7)))
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    )

    def run(Q):
        return {
            r.event_type: r for r in Q.q_ab_fdr_bh(spark, "x").collect()
        }

    got = _with_tables({"events": e}, run)

    def h16(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:4], 16)

    def h32(eid, rep):
        # block-of-4 coin scheme: one md5 per (eid, rep//4), 8-hex slice
        hx = hashlib.md5(f"{eid}:{rep // 4}".encode()).hexdigest()
        off = (rep % 4) * 8
        return int(hx[off:off + 8], 16)

    R = QQ.FDR_REPLICATES
    ks = {}
    for t in ("tA", "tB"):
        ev = [(i, u, v) for (i, u, tt, v) in rows if tt == t]
        cents = {i: round(v * 100) for i, _, v in ev}
        n = len(ev)
        s = sum(cents.values())
        arm1 = [i for i, u, _ in ev if h16(str(u)) % 2 == 1]
        n1, s1 = len(arm1), sum(cents[i] for i in arm1)
        n0, s0 = n - n1, s - s1
        obs_num, obs_den = abs(s1 * n0 - s0 * n1), n1 * n0
        k = 0
        for rep in range(R):
            m1 = t1 = 0
            for i, _, _ in ev:
                if h32(i, rep) * n < n1 * 2**32:
                    m1 += 1
                    t1 += cents[i]
            m0, t0 = n - m1, s - t1
            if abs(t1 * m0 - t0 * m1) * obs_den >= obs_num * (m1 * m0):
                k += 1
        ks[t] = k
        assert got[t].p_value == round((k + 1) / (R + 1), 6)
    # BH on m=2: rank by (k, type); reject r<=k* where (k+1)*10*2 <= r*(R+1)
    order = sorted(ks, key=lambda t: (ks[t], t))
    m = 2
    kstar = 0
    for r, t in enumerate(order, 1):
        if (ks[t] + 1) * 10 * m <= r * (R + 1):
            kstar = r
    for r, t in enumerate(order, 1):
        assert got[t].p_rank == r
        assert got[t].bh_threshold == round(r / (10.0 * m), 6)
        assert got[t].rejected == (1 if r <= kstar else 0)
    # sanity: Fraction check of the add-one p for one type
    assert Fraction(ks["tA"] + 1, R + 1) == Fraction(
        int(round(got["tA"].p_value * (R + 1) / 1)), R + 1
    )


def test_hh_merge_bounds_exact_when_nothing_dropped(spark):
    """Every shard's user set fits inside K'=10: thresholds are 0, the
    merged estimates are exact, bounds 0, fractions = count/total."""
    rows = []
    eid = 0
    for s in range(4):
        for u in range(1, 6):  # 5 users/shard, u appears u times
            for _ in range(u):
                rows.append((eid * 4 + s, u))
                eid += 1

    def run(Q):
        return Q.q_hh_merge_bounds(spark, "x").collect()

    got = _with_tables(
        {"events": spark.createDataFrame(rows, "event_id long, user_id long")},
        run,
    )
    total = 4 * (1 + 2 + 3 + 4 + 5)
    assert [r.user_id for r in got] == [5, 4, 3, 2, 1]
    for r in got:
        assert r.est_count == 4 * r.user_id  # appears u times in each shard
        assert r.upper_count == r.est_count and r.error_bound == 0
        assert r.est_frac == 4 * r.user_id / total and r.bound_frac == 0.0


def test_hh_merge_bounds_covers_dropped_key(spark):
    """user 99 is below shard 0's top-10 cut (count 1 vs threshold 2)
    but heavy in shard 1: its merged lower bound understates the truth
    by exactly the dropped shard-0 count, inside the published bound;
    keys present in EVERY contributing shard get exact zero-width
    bounds (thr_present == thr_total); empty shards contribute nothing."""
    rows = []
    eid = [0]

    def ev(shard, user, n):
        for _ in range(n):
            rows.append((eid[0] * 4 + shard, user))
            eid[0] += 1

    for u in range(1, 12):  # shard 0: 11 users with count 2 ...
        ev(0, u, 2)
    ev(0, 99, 1)  # ... + user 99 once -> 12 distinct, K'=10 drops it
    ev(1, 99, 30)  # shard 1: only 2 users, nothing dropped, thr 0
    ev(1, 50, 3)  # shards 2, 3 deliberately empty

    def run(Q):
        return Q.q_hh_merge_bounds(spark, "x").collect()

    got = _with_tables(
        {"events": spark.createDataFrame(rows, "event_id long, user_id long")},
        run,
    )
    by = {r.user_id: r for r in got}
    # shard 0: ranks 1..10 = users 1..10 (count 2, key-asc ties), rank
    # 11 = user 11 -> thr = 2; user 99 (count 1) dropped.  mass = 56.
    assert [r.user_id for r in got] == [99, 50, 1, 2, 3, 4, 5, 6, 7, 8]
    assert (by[99].est_count, by[99].upper_count, by[99].error_bound) == (
        30,
        32,
        2,
    )  # true count 31 sits inside [30, 32]
    assert by[99].est_frac == 30 / 56 and by[99].bound_frac == 2 / 56
    assert (by[50].est_count, by[50].upper_count) == (3, 5)
    for u in range(1, 9):  # present in the only thresholded shard
        assert (by[u].est_count, by[u].upper_count, by[u].error_bound) == (
            2,
            2,
            0,
        )


def test_mp4_header_parse_known_fixture_and_corrupt():
    """The ISO-BMFF parser must read a hand-laid-out minimal box tree
    (built with struct here, independent of synth_mp4), handle v1
    mvhd and 64-bit largesize boxes, and reject malformed bytes:
    missing ftyp, truncated boxes, absent moov/mvhd."""
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_mp4_header,
        synth_mp4,
    )

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    mvhd = box(
        b"mvhd",
        bytes(4) + bytes(8) + struct.pack(">II", 90000, 450000)
        + bytes(80),
    )
    tkhd = box(
        b"tkhd",
        bytes(4) + bytes(80) + struct.pack(">II", 1280 << 16, 720 << 16),
    )
    stts = box(b"stts", bytes(4) + struct.pack(">I", 2)
               + struct.pack(">IIII", 100, 3000, 50, 3000))
    trak = box(b"trak", tkhd + box(b"mdia", box(b"minf", box(b"stbl", stts))))
    ftyp = box(b"ftyp", b"mp42" + bytes(4) + b"isom")
    blob = ftyp + box(b"moov", mvhd + trak)

    def core(d):
        return (d["brand"], d["timescale"], d["duration"], d["width"],
                d["height"], d["n_frames"])

    # brand, timescale, duration, width, height, n_frames (stts sums)
    # (this trak has no hdlr — the nonzero-dims fallback selects it)
    got = parse_mp4_header(blob)
    assert core(got) == ("mp42", 90000, 450000, 1280, 720, 150)
    assert got["container"] == "progressive" and got["n_fragments"] == 0

    # synth round-trips through the parser (duration = n_frames * delta)
    assert core(parse_mp4_header(synth_mp4(320, 240, 600, 48, 25, 7))) == (
        "isom", 600, 48 * 25, 320, 240, 48,
    )
    # v1 mvhd (64-bit times) parses
    mvhd1 = box(
        b"mvhd",
        b"\x01" + bytes(3) + bytes(16) + struct.pack(">I", 1000)
        + struct.pack(">Q", 123456) + bytes(80),
    )
    assert core(parse_mp4_header(ftyp + box(b"moov", mvhd1))) == (
        "mp42", 1000, 123456, 0, 0, 0,
    )
    # largesize (size==1 -> u64) container parses
    big_moov = (
        struct.pack(">I", 1) + b"moov"
        + struct.pack(">Q", 16 + len(mvhd)) + mvhd
    )
    assert core(parse_mp4_header(ftyp + big_moov)) == (
        "mp42", 90000, 450000, 0, 0, 0,
    )
    assert parse_mp4_header(b"") is None
    assert parse_mp4_header(b"\x00corrupt") is None
    assert parse_mp4_header(blob[:20]) is None  # truncated moov
    assert parse_mp4_header(ftyp) is None  # no moov/mvhd
    # declared box size overrunning the blob classifies as corrupt
    overrun = ftyp + struct.pack(">I", 4096) + b"moov" + bytes(16)
    assert parse_mp4_header(overrun) is None


def test_mp4_parser_fuzz_never_raises():
    """Arbitrary bytes (including ftyp-prefixed garbage and valid
    prefixes of a real blob) must parse to a tuple or None — never
    raise (the audit classifies, not crashes)."""
    import random
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_mp4_header,
        synth_mp4,
    )

    rng = random.Random(11)
    real = synth_mp4(64, 48, 1000, 30, 40, 9)
    for trial in range(300):
        n = rng.randrange(0, 160)
        blob = bytes(rng.randrange(256) for _ in range(n))
        if trial % 3 == 0:
            blob = struct.pack(">I", 24) + b"ftyp" + blob
        if trial % 5 == 0:
            blob = real[: rng.randrange(len(real) + 1)]
        out = parse_mp4_header(blob)
        assert out is None or (
            isinstance(out, dict) and isinstance(out["brand"], str)
        )
    # adversarial DEEP NESTING (ADVICE r8): thousands of nested
    # container headers must neither recurse to death nor hang — the
    # walk is an explicit stack with a depth cap
    deep = b""
    for _ in range(5000):
        deep = struct.pack(">I", 8 + len(deep)) + b"moov" + deep
    ftyp = struct.pack(">I", 24) + b"ftyp" + b"isom" + bytes(4) + b"isomiso2"
    assert parse_mp4_header(ftyp + deep) is None  # no mvhd reachable
    # same, with a valid mvhd INSIDE the cap: still parses
    mvhd = (struct.pack(">I", 8 + 100) + b"mvhd" + bytes(12)
            + struct.pack(">II", 90000, 180000) + bytes(80))
    nested = mvhd
    for _ in range(10):
        nested = struct.pack(">I", 8 + len(nested)) + b"moov" + nested
    got = parse_mp4_header(ftyp + nested)
    assert got is not None and got["timescale"] == 90000


def test_video_meta_and_frame_plan_invariants(spark):
    """decode_video_meta round-trips synth blobs (corrupt classifies);
    plan_frame_samples emits exactly k rows per decodable video with
    monotone in-range frame indices and presentation ticks derived by
    EXACT integer arithmetic (pts = frame_idx * duration // n_frames) —
    cross-checked against a pure-Python reimplementation."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators import (
        multimodal as MM,
    )

    rows = [
        (1, MM.synth_mp4(320, 240, 600, 48, 25, 3)),
        (2, MM.synth_mp4(64, 48, 30000, 13, 1001, 0)),
        (3, b"\x00corrupt"),
        (4, MM.synth_mp4(16, 16, 1000, 1, 40, 16)),
        # uniform sample tables -> byte-addressable plan rows
        (5, MM.synth_mp4(32, 32, 600, 10, 25, 2, sample_size=7)),
        # fragmented -> frames/duration via trun+mehd, NULL byte plan
        (6, MM.synth_fmp4(80, 60, 1000, [6, 6], 40, n_filler=4)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    meta = MM.decode_video_meta(df)
    got = {r.doc_id: r for r in meta.collect()}
    assert got[3].mime == "unknown" and got[3].n_frames is None
    assert (got[1].width, got[1].height) == (320, 240)
    assert got[1].container == "progressive" and got[1].sample_size is None
    assert got[2].timescale == 30000 and got[2].duration == 13 * 1001
    assert got[4].n_frames == 1
    assert got[5].sample_size == 7 and got[5].n_chunks == 1
    assert got[5].chunk_offset is not None
    assert got[6].container == "fragmented" and got[6].n_fragments == 2
    assert got[6].n_frames == 12 and got[6].duration == 12 * 40

    k = 4
    plan = {
        (r.doc_id, r.sample_rank): r
        for r in MM.plan_frame_samples(meta, k=k).collect()
    }
    expect = {
        1: (48, 48 * 25, 600),
        2: (13, 13 * 1001, 30000),
        4: (1, 40, 1000),
        5: (10, 10 * 25, 600),
        6: (12, 12 * 40, 1000),
    }
    assert {d for d, _ in plan} == set(expect)
    for did, (nf, dur, ts) in expect.items():
        idxs = []
        for j in range(k):
            r = plan[(did, j)]
            fi = (j * nf) // k
            assert r.frame_idx == fi and 0 <= fi < nf
            assert r.pts_units == (fi * dur) // nf <= dur
            assert r.timescale == ts
            idxs.append(fi)
        assert idxs == sorted(idxs)
    # byte ranges: only the doc with sample tables plans them, every
    # range lands inside its container, and the fragmented doc plans
    # NULL byte columns
    off5 = got[5].chunk_offset
    for j in range(k):
        r = plan[(5, j)]
        assert r.byte_offset == off5 + r.frame_idx * 7 and r.byte_len == 7
        assert r.byte_offset + r.byte_len <= got[5].n_bytes
    for did in (1, 2, 4, 6):
        assert plan[(did, 0)].byte_offset is None
        assert plan[(did, 0)].byte_len is None


def test_mp4_multitrack_video_audio_attribution():
    """A video+audio file must report the VIDEO track's frame count
    and dimensions — r8's parser summed stts totals across ALL tracks
    (audio sample counts inflated n_frames, so frame plans emitted
    out-of-range indices).  Track selection follows the hdlr
    handler_type ('vide'), matching the tkhd dimension pick."""
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_mp4_header,
    )

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    def track(handler, w, h, track_id, n_samples, delta):
        tkhd = box(
            b"tkhd",
            bytes(4) + bytes(8) + struct.pack(">I", track_id) + bytes(64)
            + struct.pack(">II", w << 16, h << 16),
        )
        hdlr = box(b"hdlr", bytes(8) + handler + bytes(13))
        stts = box(b"stts", bytes(4) + struct.pack(">I", 1)
                   + struct.pack(">II", n_samples, delta))
        return box(
            b"trak",
            tkhd + box(b"mdia", hdlr + box(b"minf", box(b"stbl", stts))),
        )

    ftyp = box(b"ftyp", b"isom" + bytes(4) + b"isom")
    mvhd = box(b"mvhd", bytes(12) + struct.pack(">II", 600, 1200) + bytes(80))
    # audio trak FIRST in file order: selection must still pick video
    moov = box(
        b"moov",
        mvhd
        + track(b"soun", 0, 0, 2, 48000, 1)
        + track(b"vide", 640, 360, 1, 48, 25),
    )
    got = parse_mp4_header(ftyp + moov)
    assert got is not None
    assert got["n_frames"] == 48  # NOT 48048
    assert (got["width"], got["height"]) == (640, 360)


def test_mp4_unsigned_range_classification(spark):
    """u32/u64 fields beyond the signed output columns classify
    instead of crashing the Arrow column build (ADVICE r8): timescale
    uses the full u32 range (now a Long column), v1 durations >= 2^63
    and co64 offsets >= 2^63 become None, and a lying u32 stco entry
    count rides the Long n_chunks column."""
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_mp4_header,
        synth_mp4,
    )

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    ftyp = box(b"ftyp", b"isom" + bytes(4) + b"isom")
    # timescale 2^32-1 (was an Int32 overflow crash in the kernel)
    got = parse_mp4_header(synth_mp4(8, 8, (1 << 32) - 1, 2, 3))
    assert got["timescale"] == (1 << 32) - 1
    # v1 mvhd duration of u64-max classifies as None, timescale kept
    mvhd1 = box(
        b"mvhd",
        b"\x01" + bytes(3) + bytes(16) + struct.pack(">I", 1000)
        + struct.pack(">Q", (1 << 64) - 1) + bytes(80),
    )
    got = parse_mp4_header(ftyp + box(b"moov", mvhd1))
    assert got is not None
    assert got["timescale"] == 1000 and got["duration"] is None
    # co64 offset >= 2^63 classifies as None; chunk count survives
    mvhd0 = box(b"mvhd", bytes(12) + struct.pack(">II", 600, 600) + bytes(80))
    co64 = box(
        b"co64",
        bytes(4) + struct.pack(">I", 1) + struct.pack(">Q", 1 << 63),
    )
    trak = box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", co64))))
    got = parse_mp4_header(ftyp + box(b"moov", mvhd0 + trak))
    assert got["chunk_offset"] is None and got["n_chunks"] == 1
    # a v1 mvhd/mdhd TRUNCATED inside its u64 duration (payload 28..31
    # bytes; the read ends at byte 32) must classify, not crash the
    # walk — found by tools/fuzz_parsers.py at trial ~1M, seed 1
    for plen in (28, 29, 31):
        mvhd_short = box(b"mvhd", b"\x01" + bytes(plen - 1))
        out = parse_mp4_header(ftyp + box(b"moov", mvhd_short))
        assert out is None  # no timescale recoverable -> classify
        mdhd_short = box(b"mdhd", b"\x01" + bytes(plen - 1))
        trak_s = box(
            b"trak", box(b"mdia", mdhd_short + box(b"minf", box(b"stbl", b"")))
        )
        out = parse_mp4_header(ftyp + box(b"moov", mvhd0 + trak_s))
        assert out is not None and out["media_timescale"] is None
    # stco entry count is raw u32 wire data: a lying 0xFFFFFFFF count
    # (short payload) must round-trip as declared through the Long
    # column, not overflow an Int32 batch build
    stco_lying = box(b"stco", bytes(4) + struct.pack(">I", (1 << 32) - 1))
    trak2 = box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", stco_lying))))
    blob_lying = ftyp + box(b"moov", mvhd0 + trak2)
    got = parse_mp4_header(blob_lying)
    assert got["n_chunks"] == (1 << 32) - 1 and got["chunk_offset"] is None
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        decode_video_meta,
    )

    rows = decode_video_meta(
        spark.createDataFrame(
            [(1, bytearray(blob_lying))], "doc_id long, blob binary"
        )
    ).collect()
    assert rows[0].n_chunks == (1 << 32) - 1


def test_video_synth_constants():
    """Pin the closed-form byte constants the registry oracles use:
    VIDEO_PROG_HEADER is both the header length AND the stco chunk
    offset of a uniform-sample synth_mp4; VIDEO_FRAG_CONST is the
    fragmented container's size minus its final mdat filler.  Also
    pin the legacy (table-less) 361-byte header the r8 oracle used."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_mp4_header,
        synth_mp4,
        synth_fmp4,
    )
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        VIDEO_FRAG_CONST,
        VIDEO_PROG_HEADER,
    )

    for nf, ssz, filler in [(12, 2, 0), (48, 7, 16), (1, 3, 5)]:
        b = synth_mp4(100, 80, 600, nf, 25, n_filler=filler, sample_size=ssz)
        assert len(b) == VIDEO_PROG_HEADER + nf * ssz + filler
        assert parse_mp4_header(b)["chunk_offset"] == VIDEO_PROG_HEADER
    for counts, filler in [([6, 6], 0), ([10, 20], 16)]:
        f = synth_fmp4(100, 80, 600, counts, 25, n_filler=filler)
        assert len(f) == VIDEO_FRAG_CONST + filler
    assert len(synth_mp4(100, 80, 600, 48, 25, n_filler=7)) == 361 + 7
    # chunked-layout base: header = BASE + 4/sample (stsz table)
    # + 4/chunk (stco) + 12/stsc-run, chunks of 4
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_mp4_sample_tables,
    )
    from terraform_aws_lambda_kinesis_to_s3_spark.plans.queries import (
        VIDEO_CHUNKED_BASE,
    )

    for nf in (12, 13, 16, 59):
        sizes = [2 + ((7 + s) % 5) for s in range(nf)]
        b = synth_mp4(100, 80, 1000, nf, 40, sample_sizes=sizes, chunks_of=4)
        h = (VIDEO_CHUNKED_BASE + 4 * nf + 4 * ((nf + 3) // 4)
             + (12 if nf % 4 == 0 else 24))
        assert parse_mp4_sample_tables(b)["chunk_offsets"][0] == h


def test_mp4_sample_tables_and_byte_index_chunk_walk():
    """parse_mp4_sample_tables + _sample_locations place every sample
    through the REAL stsc/stco chunk walk.  Pinned two ways: (a) on a
    synth container the walk must equal the contiguity ground truth
    (chunk offsets are cumulative prefixes); (b) on a PATCHED stco
    with inter-chunk GAPS — the layout an interleaved second track
    produces — the walk must follow the table, where global prefix
    arithmetic would be wrong."""
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        _sample_locations,
        parse_mp4_sample_tables,
        synth_mp4,
    )

    sizes = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]
    b = synth_mp4(64, 48, 1000, len(sizes), 40, sample_sizes=sizes,
                  chunks_of=4)
    t = parse_mp4_sample_tables(b)
    assert t["stsc_runs"] == [(1, 4), (3, 3)]
    assert len(t["chunk_offsets"]) == 3
    pre = [0]
    for s in sizes:
        pre.append(pre[-1] + s)
    h = t["chunk_offsets"][0]
    locs = _sample_locations(t, list(range(len(sizes))))
    assert locs == [(h + pre[i], sizes[i]) for i in range(len(sizes))]
    # out-of-range frame classifies
    assert _sample_locations(t, [len(sizes)]) == [(None, None)]

    # patch the stco entries to add per-chunk gaps (10*chunk bytes):
    # chunk-2 and chunk-3 samples shift, chunk-1 samples do not
    old = b"".join(struct.pack(">I", o) for o in t["chunk_offsets"])
    new = b"".join(
        struct.pack(">I", o + 10 * c)
        for c, o in enumerate(t["chunk_offsets"])
    )
    assert b.count(old) == 1
    gapped = parse_mp4_sample_tables(b.replace(old, new))
    glocs = _sample_locations(gapped, list(range(len(sizes))))
    for i in range(len(sizes)):
        c = min(i // 4, 2)
        assert glocs[i] == (h + pre[i] + 10 * c, sizes[i])


def test_mp4_advice_r9_malformed_corners(spark):
    """Three malformed-container corners classify instead of
    mis-planning (ADVICE r9): (1) an fMP4 whose selected video trak
    never declared a track_id must NOT sum trun counts across OTHER
    tracks' fragments — a single fragmented track still attributes
    unambiguously, several classify n_frames to 0; (2)
    plan_frame_samples refuses byte ranges when the stsz declares
    FEWER samples than the stts frame count (the arithmetic would
    plan ranges past the real chunk); (3) a PRESENT-but-empty stsc
    entry table is an incomplete table, not an all-in-chunk-1
    declaration — parse_mp4_sample_tables returns None where a
    genuinely MISSING stsc still defaults."""
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        decode_video_meta,
        parse_mp4_header,
        parse_mp4_sample_tables,
        plan_frame_samples,
    )

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    mvhd = box(b"mvhd", bytes(12) + struct.pack(">II", 600, 1200) + bytes(80))

    # (1) fragmented file whose video trak has a SHORT tkhd (no
    # track_id recorded) — the r9 fallback summed ALL tracks' truns
    short_trak = box(
        b"trak",
        box(b"tkhd", bytes(20))
        + box(b"mdia", box(b"hdlr", bytes(8) + b"vide" + bytes(13))),
    )

    def frag(tid, count):
        tfhd = box(b"tfhd", bytes(4) + struct.pack(">I", tid))
        trun = box(b"trun", bytes(4) + struct.pack(">I", count))
        return box(b"moof", box(b"traf", tfhd + trun))

    ftyp5 = box(b"ftyp", b"iso5" + bytes(4) + b"iso5")
    moov = box(b"moov", mvhd + short_trak)
    got = parse_mp4_header(ftyp5 + moov + frag(1, 30) + frag(2, 99))
    assert got is not None and got["n_frames"] == 0  # NOT 129
    got = parse_mp4_header(ftyp5 + moov + frag(7, 30) + frag(7, 12))
    assert got["n_frames"] == 42  # one track, two fragments: attributes

    # (2) stts declares 10 frames but the stsz table only 6 samples:
    # single-chunk byte arithmetic would range past the real chunk
    ftyp = box(b"ftyp", b"isom" + bytes(4) + b"isom")
    stts10 = box(
        b"stts", bytes(4) + struct.pack(">I", 1) + struct.pack(">II", 10, 40)
    )
    stsz6 = box(b"stsz", bytes(4) + struct.pack(">II", 4, 6))
    stco1 = box(b"stco", bytes(4) + struct.pack(">II", 1, 200))

    def file_with(stbl):
        trak = box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", stbl))))
        return ftyp + box(b"moov", mvhd + trak)

    short_file = file_with(stts10 + stsz6 + stco1)
    meta = decode_video_meta(
        spark.createDataFrame(
            [(1, bytearray(short_file))], "doc_id long, blob binary"
        )
    )
    rows = plan_frame_samples(meta, k=4).collect()
    assert len(rows) == 4
    assert all(r.byte_offset is None and r.byte_len is None for r in rows)

    # sanity: a CONSISTENT file (sample_count == n_frames) still plans
    stsz10 = box(b"stsz", bytes(4) + struct.pack(">II", 4, 10))
    ok_meta = decode_video_meta(
        spark.createDataFrame(
            [(1, bytearray(file_with(stts10 + stsz10 + stco1)))],
            "doc_id long, blob binary",
        )
    )
    ok_rows = plan_frame_samples(ok_meta, k=4).collect()
    assert all(
        r.byte_offset == 200 + r.frame_idx * 4 and r.byte_len == 4
        for r in ok_rows
    )

    # (3) present-but-EMPTY stsc: incomplete tables, classify — where
    # a missing stsc still defaults to the single all-in-chunk-1 run
    stsc0 = box(b"stsc", bytes(4) + struct.pack(">I", 0))
    stco2 = box(b"stco", bytes(4) + struct.pack(">III", 2, 200, 300))
    assert parse_mp4_sample_tables(
        file_with(stts10 + stsz10 + stsc0 + stco2)
    ) is None
    t = parse_mp4_sample_tables(file_with(stts10 + stsz10 + stco1))
    assert t is not None and t["stsc_runs"] == [(1, 10)]


def test_mp4_advice_r10_corners(spark):
    """Two ADVICE-r10 corners: (1) an fMP4 whose video trak DID
    declare a track_id that simply appears in no tfhd must NOT borrow
    the lone trun-bearing track's sample count (that trun belongs to
    a DIFFERENT — e.g. audio — track); the single-track fallback is
    only for a trak that never declared a track_id at all.  (2) a
    legal ZERO-LENGTH sample (stsz size 0) is a successful EMPTY
    fetch: byte_sum 0 with first_byte NULL — distinct from the
    fetch-failure signal where BOTH checksums are NULL, so
    `byte_sum IS NULL` alone means failure."""
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators import (
        multimodal as MM,
    )

    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    # (1) full v0 tkhd carrying track_id 5 (plen 84: 12 pre-bytes,
    # u32 track_id at offset 12, width/height 16.16 in the last 8)
    tkhd = box(
        b"tkhd",
        bytes(12) + struct.pack(">I", 5) + bytes(60)
        + struct.pack(">II", 64 << 16, 48 << 16),
    )
    trak = box(
        b"trak",
        tkhd + box(b"mdia", box(b"hdlr", bytes(8) + b"vide" + bytes(13))),
    )
    mvhd = box(b"mvhd", bytes(12) + struct.pack(">II", 600, 1200) + bytes(80))
    ftyp5 = box(b"ftyp", b"iso5" + bytes(4) + b"iso5")
    moov = box(b"moov", mvhd + trak)

    def frag(tid, count):
        tfhd = box(b"tfhd", bytes(4) + struct.pack(">I", tid))
        trun = box(b"trun", bytes(4) + struct.pack(">I", count))
        return box(b"moof", box(b"traf", tfhd + trun))

    # the ONLY trun belongs to track 2; video track 5 has no samples
    got = MM.parse_mp4_header(ftyp5 + moov + frag(2, 30))
    assert got is not None and got["n_frames"] == 0  # NOT 30
    # exact-id attribution still works
    got = MM.parse_mp4_header(ftyp5 + moov + frag(5, 30))
    assert got["n_frames"] == 30

    # (2) zero-length sample in an otherwise-normal progressive file
    sizes = [3, 0, 5, 2]
    blob = MM.synth_mp4(
        64, 48, 1000, len(sizes), 40, sample_sizes=sizes,
        payload_pattern=True,
    )
    df = spark.createDataFrame(
        [(1, bytearray(blob))], "doc_id long, blob binary"
    )
    got = {
        r.sample_rank: r for r in MM.fetch_frame_bytes(df, k=4).collect()
    }
    r_empty = got[1]  # k=4 over 4 frames: rank 1 -> frame_idx 1 (size 0)
    assert r_empty.frame_idx == 1 and r_empty.byte_len == 0
    assert r_empty.first_byte is None and r_empty.byte_sum == 0
    # its neighbors fetched real content (byte_sum present)
    assert got[0].byte_sum is not None and got[0].byte_len == 3


def test_index_frame_bytes_kernel(spark):
    """index_frame_bytes end to end: variable multi-chunk and uniform
    single-chunk docs resolve k in-container byte ranges each;
    fragmented and corrupt blobs emit no rows."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators import (
        multimodal as MM,
    )

    sizes = [4, 2, 7, 1, 3, 5, 6, 2, 8, 1, 2, 9, 3]
    rows = [
        (1, MM.synth_mp4(64, 48, 1000, len(sizes), 40, n_filler=3,
                         sample_sizes=sizes, chunks_of=5)),
        (2, MM.synth_mp4(32, 32, 600, 10, 25, sample_size=7)),
        (3, b"\x00corrupt"),
        (4, MM.synth_fmp4(80, 60, 1000, [6, 6], 40)),
        (5, MM.synth_mp4(32, 32, 600, 10, 25)),  # no tables
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    got = {
        (r.doc_id, r.sample_rank): r
        for r in MM.index_frame_bytes(df, k=4).collect()
    }
    assert {d for d, _ in got} == {1, 2}
    blobs = dict(rows)
    pre = [0]
    for s in sizes:
        pre.append(pre[-1] + s)
    t1 = MM.parse_mp4_sample_tables(bytes(blobs[1]))
    h1 = t1["chunk_offsets"][0]
    for j in range(4):
        fi = (j * len(sizes)) // 4
        r = got[(1, j)]
        assert r.frame_idx == fi
        assert r.byte_offset == h1 + pre[fi] and r.byte_len == sizes[fi]
        assert r.byte_offset + r.byte_len <= len(blobs[1])
    t2 = MM.parse_mp4_sample_tables(bytes(blobs[2]))
    for j in range(4):
        fi = (j * 10) // 4
        r = got[(2, j)]
        assert r.byte_offset == t2["chunk_offsets"][0] + fi * 7
        assert r.byte_len == 7
    # a partition with ONLY unresolvable blobs yields an EMPTY Arrow
    # batch — the kernel's explicit dtypes must survive it (a bare []
    # infers float64 and breaks the long schema column)
    bad = spark.createDataFrame(
        [(7, b"\x00nope"), (8, b""), (9, None)], "doc_id long, blob binary"
    ).repartition(3)
    assert MM.index_frame_bytes(bad, k=4).count() == 0


def test_fetch_frame_bytes_kernel(spark):
    """fetch_frame_bytes executes the byte plan end to end: planned
    ranges are sliced out of the blob and the checksums must equal
    the pattern the synthesizer wrote (first_byte = prefix % 251,
    byte_sum = sum of the pattern run).  A planned range that points
    PAST the blob — a lying stco, patched in — keeps its plan columns
    but reports NULL checksums (the fetch-failure signal), and
    unresolvable blobs emit no rows."""
    import struct

    from terraform_aws_lambda_kinesis_to_s3_spark.operators import (
        multimodal as MM,
    )

    sizes = [4, 2, 7, 1, 3, 5, 6, 2, 8, 1, 2, 9, 3]
    good = MM.synth_mp4(64, 48, 1000, len(sizes), 40, n_filler=3,
                        sample_sizes=sizes, chunks_of=5,
                        payload_pattern=True)
    # patch the LAST stco offset to point past the container: chunk-3
    # frames plan but cannot fetch
    t = MM.parse_mp4_sample_tables(good)
    old = b"".join(struct.pack(">I", o) for o in t["chunk_offsets"])
    lying = list(t["chunk_offsets"])
    lying[-1] = len(good) + 1000
    new = b"".join(struct.pack(">I", o) for o in lying)
    assert good.count(old) == 1
    bad_stco = good.replace(old, new)

    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(bad_stco)), (3, b"\x00nope")],
        "doc_id long, blob binary",
    )
    got = {
        (r.doc_id, r.sample_rank): r
        for r in MM.fetch_frame_bytes(df, k=4).collect()
    }
    assert {d for d, _ in got} == {1, 2}
    pre = [0]
    for s in sizes:
        pre.append(pre[-1] + s)
    for j in range(4):
        fi = (j * len(sizes)) // 4
        r = got[(1, j)]
        assert r.byte_len == sizes[fi]
        assert r.first_byte == pre[fi] % 251
        assert r.byte_sum == sum((pre[fi] + b) % 251 for b in range(sizes[fi]))
        # and the checksum matches an independent slice of the blob
        assert r.byte_sum == sum(good[r.byte_offset : r.byte_offset + r.byte_len])
    # doc 2: slots whose frame landed in the lying chunk report NULL
    # checksums but keep their plan columns; earlier chunks still fetch
    last_chunk_first_frame = 10  # chunks of 5: frames 10..12 in chunk 3
    for j in range(4):
        fi = (j * len(sizes)) // 4
        r = got[(2, j)]
        assert r.byte_offset is not None
        if fi >= last_chunk_first_frame:
            assert r.first_byte is None and r.byte_sum is None
        else:
            assert r.byte_sum == sum(
                (pre[fi] + b) % 251 for b in range(sizes[fi])
            )


def test_mp4_variable_size_stsz_table():
    """The variable-size stsz path (sample_size == 0 + per-sample
    table) parses: sample_size reports None (a byte plan can't use a
    uniform stride), sample_count carries the table length, and the
    mdat payload matches the table total."""
    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        parse_mp4_header,
        synth_mp4,
    )

    sizes = [3, 1, 4, 1, 5, 9, 2, 6]
    b = synth_mp4(64, 48, 1000, len(sizes), 40, n_filler=2,
                  sample_sizes=sizes)
    got = parse_mp4_header(b)
    assert got["sample_size"] is None
    assert got["sample_count"] == len(sizes)
    assert got["n_chunks"] == 1
    assert got["chunk_offset"] + sum(sizes) + 2 == len(b)


def test_mp4_sample_tables_fuzz_never_raises():
    """The want-tables walk (parse_mp4_sample_tables) and the chunk
    resolver must CLASSIFY arbitrary bytes — random blobs,
    ftyp-prefixed garbage, bit-flipped and truncated real chunked
    containers — returning a dict or None, and resolving every
    in-range frame to a pair or (None, None), never raising.  The
    r8-era fuzz only covered parse_mp4_header's scalar path."""
    import random

    from terraform_aws_lambda_kinesis_to_s3_spark.operators.multimodal import (
        _sample_locations,
        parse_mp4_sample_tables,
        synth_mp4,
    )

    rng = random.Random(23)
    sizes = [2 + (i % 5) for i in range(17)]
    real = synth_mp4(64, 48, 1000, len(sizes), 40, n_filler=3,
                     sample_sizes=sizes, chunks_of=4)
    for trial in range(400):
        if trial % 3 == 0:
            blob = bytes(rng.randrange(256) for _ in range(rng.randrange(200)))
        elif trial % 3 == 1:
            blob = real[: rng.randrange(len(real) + 1)]
        else:  # bit-flip a few bytes of the real container
            b = bytearray(real)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            blob = bytes(b)
        t = parse_mp4_sample_tables(blob)
        assert t is None or isinstance(t, dict)
        if t is not None:
            frames = [0, t["n_frames"] - 1, t["n_frames"], 10**9]
            for loc in _sample_locations(t, frames):
                assert isinstance(loc, tuple) and len(loc) == 2
