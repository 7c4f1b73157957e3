"""Per-operator unit tests: decode (JVM == Arrow), hashing, prefix
compaction, sinks, closure modes, window ops, and the training-data ops on
literal micro-data."""

import os

import pyspark.sql.functions as F
import pytest

from relation_graph_spark import fixtures as FX
from relation_graph_spark import tokens as T


# ------------------------------------------------------------------- decode
def test_decode_jvm_equals_arrow(spark):
    from relation_graph_spark.decode import decode_axioms, decode_axioms_arrow

    seq = FX.materialize_test(spark)
    jvm = {tuple(r) for r in decode_axioms(seq).collect()}
    arrow = {tuple(r) for r in decode_axioms_arrow(seq).collect()}
    assert jvm == arrow and len(jvm) == 12


def test_decode_drops_malformed_and_unknown(spark):
    from relation_graph_spark.decode import decode_axioms
    from relation_graph_spark.schema import SEQ_SCHEMA

    rows = [
        ("d1", [999, 1, 2], 3, "x"),     # unknown axiom type
        ("d2", [T.AX_SOME, 5, 6], 3, "x"),  # too short for width-4 layout
        ("d3", [T.AX_SUBCLASS, 5, 6], 3, "x"),  # valid
        ("d4", [], 0, "x"),               # empty
    ]
    df = spark.createDataFrame(rows, SEQ_SCHEMA)
    got = decode_axioms(df).collect()
    assert len(got) == 1 and got[0].doc_id == "d3"


# ------------------------------------------------------------------ hashing
def test_edge_hash_matches_python_reference(spark):
    import base64
    import hashlib

    from relation_graph_spark.hashing import with_edge_hash

    df = spark.createDataFrame([(11, 21, 14)], "s: int, p: int, o: int")
    got = with_edge_hash(df).collect()[0]
    expect = base64.b64encode(hashlib.sha256(b"11:21:14").digest()).decode()
    assert got.edge_hash == expect
    assert got.edge == [11, 21, 14]


def test_reify_owl_shapes(spark):
    from relation_graph_spark.hashing import reify_owl

    vocab = FX.materialize_test_vocab(spark)
    edges = spark.createDataFrame(
        [(11, 21, 14), (12, T.SUBCLASSOF, 11)], "s: int, p: int, o: int"
    )
    out = reify_owl(edges, vocab).collect()
    # header triple + 1 existential edge -> 4 triples + 1 subclass passthrough
    assert len(out) == 6
    assert any(r.s == "_:redundant" for r in out)
    bnodes = {r.o for r in out if r.o.startswith("_:")}
    assert len(bnodes) == 1


# ------------------------------------------------------------------- prefix
def test_prefix_compaction_longest_first(spark):
    from relation_graph_spark.prefix import compact_iri

    prefixes = {
        "ex": "http://example.org/",
        "exsub": "http://example.org/sub/",
    }
    df = spark.createDataFrame(
        [
            ("http://example.org/sub/X",),
            ("http://example.org/Y",),
            ("http://purl.obolibrary.org/obo/BFO_0000050",),
            ("http://unknown.org/Z",),
        ],
        "iri: string",
    )
    got = [r.c for r in df.select(compact_iri(F.col("iri"), prefixes).alias("c")).collect()]
    assert got == ["exsub:X", "ex:Y", "BFO:0000050", "http://unknown.org/Z"]


def test_ntriples_formatting(spark):
    from relation_graph_spark.hashing import to_iris, to_ntriples

    vocab = FX.materialize_test_vocab(spark)
    edges = spark.createDataFrame([(11, 21, 14)], "s: int, p: int, o: int")
    lines = [r.line for r in to_ntriples(to_iris(edges, vocab)).collect()]
    assert lines == [
        "<http://example.org/test#A> <http://example.org/test#p> <http://example.org/test#D> ."
    ]


# -------------------------------------------------------------------- sinks
def test_idempotent_sink_replay_and_orphan(spark, tmp_path):
    from relation_graph_spark.sinks import IdempotentParquetSink

    sink = IdempotentParquetSink(spark, str(tmp_path / "s"))
    df1 = spark.createDataFrame([("a",), ("b",)], "edge_hash: string")
    m1 = sink.append_new_only(df1, 0)
    assert m1["n_rows"] == 2
    # replay of batch 0 is a no-op
    m1b = sink.append_new_only(df1, 0)
    assert m1b == m1 and sink.read().count() == 2
    # batch 1 with an overlapping key: only the new key lands
    df2 = spark.createDataFrame([("b",), ("c",)], "edge_hash: string")
    m2 = sink.append_new_only(df2, 1)
    assert m2["n_rows"] == 1
    got = sorted(r.edge_hash for r in sink.read().collect())
    assert got == ["a", "b", "c"]
    # orphan data without manifest is invisible
    orphan = str(tmp_path / "s" / "data" / "batch=99")
    spark.createDataFrame([("z",)], "edge_hash: string").write.parquet(orphan)
    assert sink.read().count() == 3


# ------------------------------------------------------------------ closure
def test_closure_on_cycle(spark):
    from relation_graph_spark.closure import transitive_closure

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "child: bigint, parent: bigint"
    )
    smart = {tuple(r) for r in transitive_closure(edges).collect()}
    assert (1, 1) in smart and (1, 4) in smart and len(smart) == 12


def test_closure_long_chain_smart_rounds(spark):
    from relation_graph_spark.closure import transitive_closure

    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "child: bigint, parent: bigint"
    )
    tc = transitive_closure(edges, max_iterations=10)  # needs log2(60) ~ 6 rounds
    assert tc.count() == n * (n + 1) // 2


# ------------------------------------------------------------------ windows
def test_session_window_gap_boundary(spark):
    from datetime import datetime

    from relation_graph_spark.streaming.windows import session_agg

    rows = [
        (1, datetime(2026, 1, 1, 0, 0, 0), 1.0),
        (1, datetime(2026, 1, 1, 0, 10, 0), 1.0),  # same session (<30m)
        (1, datetime(2026, 1, 1, 0, 40, 0), 1.0),  # exactly 30m gap -> MERGED
        (1, datetime(2026, 1, 1, 1, 40, 1), 1.0),  # >30m gap -> new session
        (2, datetime(2026, 1, 1, 0, 0, 0), 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id: bigint, ts: timestamp, value: double")
    got = {
        (r.user_id, r.first_ts.minute, r.n_events)
        for r in session_agg(df, "30 minutes").collect()
    }
    # Spark merges an event landing exactly at session end (gap-inclusive)
    assert got == {(1, 0, 3), (1, 40, 1), (2, 0, 1)}


# ---------------------------------------------------------------------- ops
def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: bigint, text: string"
    )


def test_exact_dedup_unit(spark):
    from relation_graph_spark.ops.dedup import exact_dedup

    docs = _docs(spark, ["same text", "same text", "other"])
    got = {(r.canonical_doc_id, r.n_copies) for r in exact_dedup(docs).collect()}
    assert got == {(0, 2), (2, 1)}


def test_jaccard_pairs_unit(spark):
    from relation_graph_spark.ops.dedup import ngram_jaccard_pairs

    docs = _docs(spark, ["a b c d", "a b c e", "x y z w"])
    got = {
        (r.doc_a, r.doc_b): r.jaccard_ppm
        for r in ngram_jaccard_pairs(docs, threshold_ppm=0).collect()
    }
    assert got[(0, 1)] == 600000  # |{a,b,c}| / |{a,b,c,d,e}| = 3/5
    assert got[(0, 2)] == 0


def test_minhash_identical_docs_share_all_bands(spark):
    from relation_graph_spark.ops.dedup import lsh_candidate_pairs

    docs = _docs(spark, ["alpha beta gamma", "alpha beta gamma", "unrelated words here"])
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_simhash_similar_docs_close(spark):
    from relation_graph_spark.ops.dedup import simhash

    docs = _docs(
        spark,
        ["the quick brown fox jumps", "the quick brown fox leaps", "zzz qqq vvv"],
    )
    h = {r.doc_id: r.simhash for r in simhash(docs, bits=16).collect()}
    d01 = bin(h[0] ^ h[1]).count("1")
    d02 = bin(h[0] ^ h[2]).count("1")
    assert d01 < d02


def test_lang_id_unit(spark):
    from relation_graph_spark.ops.text import lang_id

    docs = _docs(
        spark,
        ["the cat is on the mat and it is flat",
         "el gato que se sienta en la alfombra y los perros",
         "zxcvb qwerty"],
    )
    got = {r.doc_id: r.lang_pred for r in lang_id(docs).collect()}
    assert got == {0: "en", 1: "es", 2: "unk"}


def test_cosine_topk_unit(spark):
    from relation_graph_spark.ops.similarity import cosine_topk

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.1, 0.0]),   # closest to 0
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),  # opposite
        ],
        "vec_id: bigint, embedding: array<float>",
    )
    got = [r.vec_id for r in cosine_topk(emb, 0, k=3).orderBy("rank").collect()]
    assert got == [1, 2, 3]


def test_cosine_topk_arrow_matches_exact(spark):
    from relation_graph_spark.ops.similarity import cosine_topk, cosine_topk_arrow

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = emb.where(F.col("vec_id") == 0).collect()[0].embedding
    exact = [r.vec_id for r in cosine_topk(emb, 0, k=10).orderBy("rank").collect()]
    arrow = [
        r.vec_id
        for r in cosine_topk_arrow(emb.where(F.col("vec_id") != 0), query, k=10)
        .orderBy("rank")
        .collect()
    ]
    # quantized-int vs float64 paths may swap near-ties; compare as sets
    assert set(exact) == set(arrow)


def test_multimodal_features_and_stub_contract(spark):
    from relation_graph_spark.ops.multimodal import (
        decode_image_features,
        payload_byte_features,
        synthesize_media,
    )

    docs = _docs(spark, ["hello world", "abc"])
    media = synthesize_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    # registry seam: formats whose decode libs are absent raise; the
    # bundled pure-numpy ppm decoder is registered (tested separately)
    with pytest.raises(NotImplementedError):
        decode_image_features(media, fmt="jpeg")
    got = payload_byte_features(media, dim=4).collect()
    # one row per (media, dim); exact integer ppm
    assert len(got) == 2 * 4
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.media_id, {})[r.dim_idx] = (r.n_bytes, r.feat_ppm)
    for text, rows in zip(["hello world", "abc"], by_doc.values()):
        data = text.encode()
        n = len(data)
        for d in range(4):
            cnt = sum(1 for b in data if b >> 6 == d)
            assert rows[d] == (n, cnt * 1_000_000 // n)


def test_existential_subclasses_restriction_query(spark):
    from relation_graph_spark.materialize import existential_subclasses

    got = {
        r.subclass
        for r in existential_subclasses(FX.materialize_test(spark), FX.P_, FX.D_).collect()
    }
    assert got == {FX.A_, FX.B_, FX.C_}  # everything entailed under (p some D)


def test_gen_ontology_deterministic(spark):
    from relation_graph_spark.fixtures import gen_ontology_rows

    a = gen_ontology_rows(500, 4, 1000)
    b = gen_ontology_rows(500, 4, 1000)
    assert a == b and len(a) > 1500


def test_hot_bucket_cap_drops_degenerate_bucket(spark):
    """k identical docs share every band bucket: with a cap below k the
    degenerate bucket is dropped (no O(k^2) pair blowup); distinct docs
    still pair up."""
    from relation_graph_spark.ops.dedup import lsh_candidate_pairs

    rows = [(i, "identical boilerplate text shared by many docs") for i in range(20)]
    rows += [(100, "a unique document about spark joins"),
             (101, "a unique document about spark joins")]
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    capped = lsh_candidate_pairs(docs, num_hashes=4, band_size=2, max_bucket_size=10)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert got == {(100, 101)}  # the 20-doc degenerate bucket never pairs
    uncapped = lsh_candidate_pairs(docs, num_hashes=4, band_size=2)
    assert uncapped.count() == 20 * 19 // 2 + 1


def test_two_stage_topk_equals_global_sort(spark):
    """cosine_topk's grouped two-stage top-k must equal a brute-force global
    sort on the exact integer scores."""
    from relation_graph_spark.ops.similarity import cosine_topk, with_quantized, _dot

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = [(r.vec_id, r.cosine_ppm, r.rank) for r in
           cosine_topk(emb, 0, k=7, n_groups=16).orderBy("rank").collect()]
    q = with_quantized(emb)
    query = q.where(F.col("vec_id") == 0).select(
        F.col("q").alias("qq"), F.col("q_norm2").alias("qq_norm2"))
    scored = (q.where(F.col("vec_id") != 0).crossJoin(F.broadcast(query))
              .select("vec_id",
                      F.floor(_dot(F.col("q"), F.col("qq")) * 1000000 /
                              F.sqrt(F.col("q_norm2").cast("double")
                                     * F.col("qq_norm2").cast("double")))
                      .cast("bigint").alias("cosine_ppm")))
    brute = [(r.vec_id, r.cosine_ppm) for r in
             scored.orderBy(F.col("cosine_ppm").desc(), F.col("vec_id").asc())
             .limit(7).collect()]
    assert [(v, c) for v, c, _ in got] == brute


def test_duplicate_clusters_star_matches_min_label(spark):
    """large-star/small-star CC == min-label CC on mixed star/chain/cycle
    components; and it converges on a chain far deeper than the min-label
    round budget (O(log n) vs O(diameter) rounds)."""
    from relation_graph_spark.ops.dedup import duplicate_clusters, duplicate_clusters_star

    pairs = (
        [(1, 2), (1, 3), (1, 4)]            # star
        + [(10, 11), (11, 12), (12, 13)]    # short chain
        + [(20, 21), (21, 22), (22, 20)]    # cycle
    )
    pdf = spark.createDataFrame(pairs, "doc_a bigint, doc_b bigint")
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 5)] + [(i,) for i in range(10, 14)]
        + [(i,) for i in range(20, 23)] + [(99,)],  # 99 = singleton
        "doc_id bigint",
    )
    want = {(r.doc_id, r.cluster_id) for r in duplicate_clusters(docs, pdf).collect()}
    got = {(r.doc_id, r.cluster_id) for r in duplicate_clusters_star(docs, pdf).collect()}
    assert got == want
    assert (99, 99) in got and (13, 10) in got and (22, 20) in got

    # adversarial 300-deep chain: min-label would need 300 rounds (over its
    # 50-round budget); star contraction converges in O(log n)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "doc_a bigint, doc_b bigint"
    )
    cdocs = spark.createDataFrame([(i,) for i in range(301)], "doc_id bigint")
    out = duplicate_clusters_star(cdocs, chain, max_iterations=20)
    assert {r.cluster_id for r in out.collect()} == {0}


def test_ppm_decoder_and_registry():
    """Pure-numpy P6 decoder: header comments, exact pixel recovery,
    16-bit rejection; the registry raises NotImplementedError for formats
    with no registered decoder (the declared extension seam)."""
    import numpy as np
    import pytest as _pt

    from relation_graph_spark.ops.multimodal import decode_ppm, MEDIA_DECODERS

    px = bytes(range(24))  # 4x2 RGB
    img = decode_ppm(b"P6\n# a comment\n4 2\n255\n" + px)
    assert img.shape == (2, 4, 3) and bytes(img.reshape(-1)) == px
    with _pt.raises(ValueError):
        decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")
    with _pt.raises(ValueError):
        decode_ppm(b"P5\n1 1\n255\n\x00")
    assert "ppm" in MEDIA_DECODERS


def test_pgm_decoder_and_registry(spark):
    """Second registered decoder (grayscale P5): exact pixel recovery,
    format cross-rejection, and end-to-end equality of the Arrow feature
    path against a P6 payload carrying the SAME pixel bytes — proves the
    registry seam generalizes beyond one format."""
    import pytest as _pt

    from relation_graph_spark.ops.multimodal import (
        MEDIA_DECODERS,
        decode_image_features,
        decode_pgm,
    )

    px = bytes(range(24))  # 6x4 grayscale
    img = decode_pgm(b"P5\n# c\n6 4\n255\n" + px)
    assert img.shape == (4, 6) and bytes(img.reshape(-1)) == px
    with _pt.raises(ValueError):
        decode_pgm(b"P6\n1 1\n255\n\x00\x00\x00")
    with _pt.raises(ValueError):
        decode_pgm(b"P5\n1 1\n65535\n\x00\x00")
    assert "pgm" in MEDIA_DECODERS
    # same pixel bytes through both decoders -> identical histograms
    pgm = spark.createDataFrame(
        [(1, b"P5\n8 3\n255\n" + px)], "media_id bigint, payload binary"
    )
    ppm = spark.createDataFrame(
        [(1, b"P6\n4 2\n255\n" + px)], "media_id bigint, payload binary"
    )
    got_pgm = {
        (r.dim_idx, r.feat_ppm)
        for r in decode_image_features(pgm, dim=8, fmt="pgm").collect()
    }
    got_ppm = {
        (r.dim_idx, r.feat_ppm)
        for r in decode_image_features(ppm, dim=8, fmt="ppm").collect()
    }
    assert got_pgm == got_ppm


def test_decode_image_features_unregistered_format(spark):
    from relation_graph_spark.ops.multimodal import decode_image_features

    media = spark.createDataFrame([(1, b"x")], "media_id bigint, payload binary")
    import pytest as _pt

    with _pt.raises(NotImplementedError):
        decode_image_features(media, fmt="jpeg")


def test_sample_frames_true_bytes_non_ascii(spark):
    """sample_frames must slice BYTES, not decoded characters: a payload
    with multi-byte UTF-8 and raw non-UTF-8 bytes yields the exact byte at
    each 1-based offset."""
    from relation_graph_spark.ops.multimodal import sample_frames

    payload = "é".encode() + bytes([0x00, 0xFF, 0x80])  # C3 A9 00 FF 80
    media = spark.createDataFrame([(1, payload)], "media_id bigint, payload binary")
    got = {
        (r.frame_idx, r.byte_offset, r.sample_byte)
        for r in sample_frames(media, n_frames=4).collect()
    }
    # n_bytes=5 -> offsets 1 + (k*5)//4 = 1, 2, 3, 4
    assert got == {(0, 1, 0xC3), (1, 2, 0xA9), (2, 3, 0x00), (3, 4, 0xFF)}


def test_ivf_topk_two_stage_no_global_window(spark):
    """ivf_topk's final ranking must (a) equal the rank order implied by the
    exact scores and (b) carry no un-partitioned window over the full probed
    candidate set in the plan (only the <= k*n_groups survivor merge)."""
    from relation_graph_spark.ops.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = ivf_topk(emb, 2, k=5, n_centroids=4, n_probe=2)
    rows = df.orderBy("rank").collect()
    assert len(rows) == 5
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
    # scores weakly decreasing, ties broken by vec_id ascending
    for a, b in zip(rows, rows[1:]):
        assert (a.cosine_ppm, -a.vec_id) >= (b.cosine_ppm, -b.vec_id)
    # the global merge window must be fed by a per-group stage: a window
    # partitioned by the _g hash group ranks the probed candidates before
    # any un-partitioned window sees them
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(_g" in plan


def test_triples_to_axioms_dispatch(spark):
    """J6 / reference RelationGraphUtil.scala:33-39 predicate dispatch."""
    from relation_graph_spark.util import compute_relation_graph, triples_to_axioms

    edges = spark.createDataFrame(
        [(11, T.SUBCLASSOF, 12), (11, T.EQUIVALENTCLASS, 13),
         (91, T.RDF_TYPE, 11), (11, 21, 14)],
        "s: int, p: int, o: int",
    )
    got = {tuple(r) for r in triples_to_axioms(edges).collect()}
    assert got == {
        (T.AX_SUBCLASS, 11, 12, None),
        (T.AX_EQUIV_NAMED, 11, 13, None),
        (T.AX_CLASS_ASSERTION, 11, 91, None),
        (T.AX_SOME, 11, 21, 14),
    }
    # end-to-end: fixture A materialization back to axioms includes the
    # entailed C SubClassOf (p some D)
    ax = {
        tuple(r)
        for r in compute_relation_graph(FX.materialize_test(spark)).collect()
    }
    assert (T.AX_SOME, FX.C_, FX.P_, FX.D_) in ax


def test_duplicate_clusters_min_label(spark):
    from relation_graph_spark.ops.dedup import duplicate_clusters

    docs = _docs(spark, ["a", "b", "c", "d", "e", "f"])  # ids 0..5
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 4)], "doc_a: bigint, doc_b: bigint"
    )
    got = {
        (r.doc_id, r.cluster_id) for r in duplicate_clusters(docs, pairs).collect()
    }
    # components: {1,3,5} -> 1, {2,4} -> 2, singletons 0 and 5-less rest
    assert got == {(0, 0), (1, 1), (3, 1), (5, 1), (2, 2), (4, 2)}


def test_grouped_transitive_closure_no_cross_group_paths(spark):
    from relation_graph_spark.closure import transitive_closure

    edges = spark.createDataFrame(
        [("w1", 1, 2), ("w1", 2, 3), ("w2", 2, 3), ("w2", 3, 4)],
        "g: string, child: bigint, parent: bigint",
    )
    got = {tuple(r) for r in transitive_closure(edges, group_cols=["g"]).collect()}
    assert got == {
        ("w1", 1, 2), ("w1", 2, 3), ("w1", 1, 3),
        ("w2", 2, 3), ("w2", 3, 4), ("w2", 2, 4),
    }


def test_frame_sample_offsets_and_bytes(spark):
    from relation_graph_spark.ops.multimodal import sample_frames, synthesize_media

    docs = _docs(spark, ["abcdefgh"])  # 8 bytes
    got = {
        (r.frame_idx, r.byte_offset, r.sample_byte)
        for r in sample_frames(synthesize_media(docs), n_frames=4).collect()
    }
    # offsets 1,3,5,7 -> bytes a,c,e,g
    assert got == {
        (0, 1, ord("a")), (1, 3, ord("c")), (2, 5, ord("e")), (3, 7, ord("g"))
    }
