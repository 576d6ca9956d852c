"""Semantics tests for the training-data operators (dedup, text,
similarity, media). Engine-vs-DuckDB parity is covered by
tools/check_oracles.py + the driver; these pin behavior on constructed
cases with known answers."""

import pytest
from pyspark.sql import functions as F

from asag_spark.operators.dedup import (
    embedding_near_dups, exact_dedup, jaccard_pairs, lsh_candidate_pairs,
    minhash_dedup, simhash_near_dups,
)
from asag_spark.operators.media import decode_media, extract_media, media_features
from asag_spark.operators.similarity import cosine_topk
from asag_spark.operators.text import fingerprint, lang_id, quality_score, token_count


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s", 44),
        (1, "the quick brown fox jumps over the lazy dog", "en", "s", 44),  # exact dup
        (2, "the quick brown fox jumps over the lazy cat", "en", "s", 44),  # near dup
        (3, "completely different words entirely here now", "en", "s", 45),
        (4, "el gato y la casa de madrid", "es", "s", 27),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_token_count(corpus):
    r = {x["doc_id"]: x["n_tokens"] for x in token_count(corpus).collect()}
    assert r[0] == 9 and r[4] == 7


def test_fingerprint_and_exact_dedup(corpus):
    fp = {x["doc_id"]: x["fp"] for x in fingerprint(corpus).collect()}
    assert fp[0] == fp[1] and fp[0] != fp[2]
    groups = {x["fp"]: x for x in exact_dedup(corpus).collect()}
    g = groups[fp[0]]
    assert g["keeper_doc_id"] == 0 and g["n_docs"] == 2


def test_jaccard_and_minhash(corpus):
    jp = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
          jaccard_pairs(corpus, threshold=0.5).collect()}
    assert jp[(0, 1)] == 1.0
    assert 0.5 <= jp[(0, 2)] < 1.0          # one word differs → high overlap
    assert (0, 3) not in jp
    cands = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(corpus).collect()}
    assert (0, 1) in cands                   # identical docs always collide
    verified = {(r["doc_a"], r["doc_b"]) for r in
                minhash_dedup(corpus, threshold=0.5).collect()}
    assert (0, 1) in verified and (0, 3) not in verified


def test_jaccard_pairs_leaves_no_cache(corpus):
    """VERDICT r02 §wrong-2: round 2 cached the shingle frame and never
    unpersisted it — every jaccard_pairs call pinned a block-manager
    entry for the session's lifetime. The operator is lazy, so the fix
    is NO internal cache at all: no new persistent RDD may survive the
    call."""
    sc = corpus.sparkSession.sparkContext

    def persistent_ids():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    before = persistent_ids()
    jaccard_pairs(corpus, threshold=0.5).collect()
    assert persistent_ids() - before == set()


def test_simhash(corpus):
    nd = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
          simhash_near_dups(corpus, max_hamming=10).collect()}
    assert nd[(0, 1)] == 0                   # identical → distance 0


def test_lang_and_quality(corpus):
    langs = {r["doc_id"]: r["lang_pred"] for r in lang_id(corpus).collect()}
    assert langs[0] == "en" and langs[4] == "es"
    q = {r["doc_id"]: r for r in quality_score(corpus).collect()}
    assert 0.0 <= q[0]["quality"] <= 1.0
    assert q[0]["stopword_ratio"] > q[3]["stopword_ratio"]


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.999, 0.04, 0.0, 0.0], 0),      # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [-1.0, 0.0, 0.0, 0.0], 2),
        (4, [0.7, 0.7, 0.0, 0.0], 1),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_cosine_topk_exact(vectors):
    out = cosine_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=2).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in ranked] == [1, 4]
    assert ranked[0]["cosine"] > 0.99


def test_embedding_near_dups(vectors):
    nd = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in
          embedding_near_dups(vectors, threshold=0.95).collect()}
    assert (0, 1) in nd and nd[(0, 1)] > 0.99
    assert all(p == (0, 1) for p in nd)


def test_embedding_near_dups_zero_norm(spark):
    """Two zero vectors share every LSH band but have no cosine: they
    must drop out of the refine instead of aborting the stage with
    DIVIDE_BY_ZERO."""
    import pandas as pd

    vecs = [[0.0] * 8, [0.0] * 8, [1.0] + [0.0] * 7,
            [0.99, 0.01] + [0.0] * 6, [0.0, 1.0] + [0.0] * 6]
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(1, 6), "embedding": vecs}),
        "vec_id long, embedding array<double>",
    )
    nd = embedding_near_dups(e.filter(F.col("vec_id") < 5), threshold=0.9)
    assert [(r["vec_a"], r["vec_b"]) for r in nd.collect()] == [(3, 4)]


def test_media_pipeline(spark):
    from asag_spark.datagen import fixture_docs
    from asag_spark.sources import docs_from_documents

    docs = spark.createDataFrame(
        [("d1", [("meta", "entity_type=StopPlace;id=d1;version=1", "", 0),
                 ("media", "", "img://a.jpg", 37),
                 ("media", "", "img://b.jpg", 37)])],
        schema=fixture_docs(spark).schema,
    )
    media = extract_media(docs)
    rows = media.collect()
    assert [(r["media_ref"], r["span_idx"]) for r in rows] == [
        ("img://a.jpg", 1), ("img://b.jpg", 2)
    ]
    dec = decode_media(media).collect()
    assert all(r["is_stub"] for r in dec)
    assert all(r["width"] >= 64 and r["format"] in ("jpeg", "png", "webp") for r in dec)
    # determinism: same ref → same feature
    f = media_features(media.union(media)).collect()
    by_ref = {}
    for r in f:
        by_ref.setdefault(r["media_ref"], set()).add(tuple(r["feature"]))
    assert all(len(v) == 1 for v in by_ref.values())


def test_winnow_fingerprints(corpus):
    from asag_spark.operators.text import winnow_fingerprints

    fps = winnow_fingerprints(corpus).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # exact dups share the full fingerprint set
    assert by_doc[0] == by_doc[1]
    # near dup (one word changed at the end) shares a prefix of windows
    assert by_doc[0] & by_doc[2]
    # unrelated doc shares nothing
    assert not (by_doc[0] & by_doc[3])
    # every doc fingerprinted, values are 16-hex
    assert set(by_doc) == {0, 1, 2, 3, 4}
    assert all(len(f) == 16 for s in by_doc.values() for f in s)


def test_winnow_short_doc_fallback(spark):
    from asag_spark.operators.text import winnow_fingerprints

    rows = [(0, "one two", "en", "s", 7), (1, "one two", "en", "s", 7),
            (2, "a b c d e f", "en", "s", 11)]  # 6 toks -> 2 shingles < w
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    fps = winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] == by_doc[1] and len(by_doc[0]) == 1
    assert len(by_doc[2]) == 1  # global-min branch


# ---------------------------------------------------------------------------
# round-2 property tests (VERDICT r01: simhash banding recall, banded
# hyperplane LSH, honest media decode, jaccard df-cap)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def edit_corpus(spark):
    """Seeded corpus rich in low-Hamming simhash pairs: a 60-token base
    sentence, 15 single-token edits, plus an exact dup — single-token
    edits flip ~3 signature bits, so pairs cluster right at the
    max_hamming=3 recall boundary where the old 2x16 banding lost
    pairs whose differing bits straddled the halves."""
    import random

    rng = random.Random(1234)
    words = [f"w{rng.randrange(10_000)}" for _ in range(400)]
    base = [rng.choice(words) for _ in range(60)]
    rows = [(0, " ".join(base)), (1, " ".join(base))]
    for i in range(15):
        v = list(base)
        v[i * 4] = f"edit{i}x"
        rows.append((i + 2, " ".join(v)))
    return spark.createDataFrame(
        [(d, t, "en", "s", len(t)) for d, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


@pytest.mark.parametrize("hash_base", ["md5", "xxhash64"])
def test_simhash_banding_recall_exact(edit_corpus, hash_base):
    """4x16 banding has GUARANTEED recall at h<=3 (bands >= h+1): the
    operator output must equal brute-force all-pairs Hamming exactly —
    no pair missed (recall), none added (the op verifies Hamming).
    Signatures are signed 64-bit longs (bit 63 = sign), so the brute
    force masks the XOR to the 64-bit two's-complement pattern.
    Parametrized over both hash bases (md5 = the DuckDB-oracle
    default, xxhash64 = the cheaper production base): the pigeonhole
    recall argument is hash-agnostic and must hold for both."""
    from itertools import combinations

    from asag_spark.operators.dedup import simhash

    m64 = (1 << 64) - 1

    def ham(x, y):
        return bin((x ^ y) & m64).count("1")

    sig = {r["doc_id"]: r["simhash"]
           for r in simhash(edit_corpus, hash_base=hash_base).collect()}
    brute = {
        (a, b, ham(sig[a], sig[b]))
        for a, b in combinations(sorted(sig), 2)
        if ham(sig[a], sig[b]) <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_dups(
            edit_corpus, max_hamming=3, hash_base=hash_base).collect()
    }
    assert len(brute) >= 3, "corpus must exercise the h<=3 regime"
    assert got == brute


def test_simhash_null_and_empty_docs_both_bases(spark):
    """NULL text is the null-token path (split of NULL → explode_outer
    null row): md5 hashes null to null (skipped by SUM/COUNT → zero
    signature); xxhash64(NULL) would return the SEED hash instead of
    NULL, so the operator must null-guard it explicitly — this pins
    that guard. Empty/whitespace text reduces to the single empty
    token [""] (split semantics), hashed like any token: both spell
    the same signature for "" and "   " under each base."""
    from asag_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "hello world")],
        "doc_id long, text string",
    )
    for base in ("md5", "xxhash64"):
        out = {r["doc_id"]: r["simhash"]
               for r in simhash(docs, hash_base=base).collect()}
        assert len(out) == 4, base
        assert out[0] == 0, base          # null text -> zero signature
        assert out[1] == out[2], base     # ""/whitespace: same token
        assert out[3] not in (0, out[1]), base


@pytest.fixture(scope="module")
def planted_vectors(spark):
    """50 random unit vectors + 20 noisy clones (cosine >= ~0.99)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(50, 32)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    clones = base[:20] + rng.randn(20, 32) * 0.02
    clones /= np.linalg.norm(clones, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(base)]
    rows += [(50 + i, [float(x) for x in v], 1) for i, v in enumerate(clones)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_emb_lsh_recall_on_planted_dups(planted_vectors):
    """Banded hyperplane LSH finds every planted cosine>=0.95 pair
    (deterministic: seeded corpus x seeded hyperplanes), and the exact
    refine admits nothing below threshold — so output == brute force."""
    import numpy as np

    rows = planted_vectors.select("vec_id", "embedding").collect()
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    N = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = N @ N.T
    brute = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if round(S[i, j], 6) >= 0.95
    }
    got = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dups(planted_vectors, threshold=0.95).collect()
    }
    assert len(brute) >= 15, "plant must produce the near-dup regime"
    assert got == brute


def test_lsh_band_key_cardinality(planted_vectors):
    """Scale guard (VERDICT r01 'what's wrong' #3): the LSH self-join
    key must be high-cardinality — the old sign-LSH joined on a
    16-value bucket column (quadratic within |corpus|/16 buckets)."""
    from asag_spark.operators.dedup import (
        EMB_LSH_BANDS, EMB_LSH_BITS, band_keys,
    )

    rows = EMB_LSH_BITS // EMB_LSH_BANDS
    assert EMB_LSH_BANDS * (1 << rows) >= 256, "keyspace must exceed 16 buckets"
    n_keys = band_keys(planted_vectors).select("bkey").distinct().count()
    assert n_keys > 16


def test_simhash_band_key_cardinality(edit_corpus):
    """Scale guard (VERDICT r02 'what's wrong' #1): 16-bit bands give a
    2^16 per-band keyspace — the former 32-bit/8-bit-band signature had
    only 256 buckets per band, a quadratic band self-join at 10^9 docs.
    Also pins that bands x band_bits covers the full 64-bit signature
    and that real data actually spreads across the widened keyspace."""
    from asag_spark.operators.dedup import (
        SIMHASH_BAND_BITS, SIMHASH_BANDS, simhash,
    )

    assert SIMHASH_BANDS >= 4  # bands >= max_hamming + 1 (pigeonhole)
    assert SIMHASH_BAND_BITS == 16
    assert SIMHASH_BANDS * SIMHASH_BAND_BITS == 64  # full signature
    assert (1 << SIMHASH_BAND_BITS) == 65536  # per-band keyspace

    # the signature must actually populate the high bits (bit 63 rides
    # the sign): with 17 docs the 4 band values per doc should not
    # collapse into a handful of buckets
    sigs = [r["simhash"] for r in simhash(edit_corpus).collect()]
    assert any(s < 0 for s in sigs) or any(s >> 48 for s in sigs)
    m16 = (1 << 16) - 1
    keys = {(b, (s >> (16 * b)) & m16) for s in sigs for b in range(4)}
    assert len(keys) > 16


def test_decode_media_honest_flag(spark):
    """is_stub must reflect whether a real decode happened: real
    PNG/GIF/JPEG bytes parse with is_stub=False; absent or garbage
    bytes fabricate with is_stub=True."""
    import struct

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\x00" * 8)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    jpeg = (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 7) + b"JFIF\x00"
            + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 480, 640) + b"\x01\x11\x00\x00")
    rows = [
        ("d1", "img://a.png", bytearray(png)),
        ("d1", "img://b.gif", bytearray(gif)),
        ("d1", "img://c.jpg", bytearray(jpeg)),
        ("d1", "img://junk.bin", bytearray(b"not an image")),
        ("d1", "img://missing.jpg", None),
    ]
    media = spark.createDataFrame(
        rows, "doc_id string, media_ref string, media_bytes binary"
    )
    out = {r["media_ref"]: r for r in
           decode_media(media, bytes_col="media_bytes").collect()}
    assert (out["img://a.png"]["width"], out["img://a.png"]["height"],
            out["img://a.png"]["format"], out["img://a.png"]["is_stub"]) == (
        640, 480, "png", False)
    assert (out["img://b.gif"]["width"], out["img://b.gif"]["height"],
            out["img://b.gif"]["format"], out["img://b.gif"]["is_stub"]) == (
        320, 200, "gif", False)
    assert (out["img://c.jpg"]["width"], out["img://c.jpg"]["height"],
            out["img://c.jpg"]["format"], out["img://c.jpg"]["is_stub"]) == (
        640, 480, "jpeg", False)
    # real decodes have no fabricated duration
    assert out["img://a.png"]["duration_s"] is None
    # unparseable/absent bytes -> deterministic fake, honestly flagged
    for ref in ("img://junk.bin", "img://missing.jpg"):
        assert out[ref]["is_stub"] is True and out[ref]["width"] >= 64
    # no-bytes path is all-stub; disallowing stubs without bytes raises
    assert all(r["is_stub"] for r in
               decode_media(media.drop("media_bytes")).collect())
    with pytest.raises(NotImplementedError):
        decode_media(media.drop("media_bytes"), allow_stub=False)


def test_jaccard_df_cap(corpus):
    """A cap far above every shingle's df leaves output unchanged; a
    cap of 1 removes all shared-shingle evidence (every common shingle
    has df >= 2 by definition) -> no pairs."""
    uncapped = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
                jaccard_pairs(corpus, threshold=0.5).collect()}
    capped = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
              jaccard_pairs(corpus, threshold=0.5, max_df=10_000).collect()}
    assert capped == uncapped and (0, 1) in capped
    assert jaccard_pairs(corpus, threshold=0.5, max_df=1).count() == 0


def test_parse_image_header_property():
    """Property: for any dims, a synthesized PNG/GIF/JPEG/PPM/BMP header
    parses back to exactly those dims (pure function, no Spark
    needed)."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from asag_spark.operators.media import parse_image_header

    @settings(max_examples=200, deadline=None)
    @given(w=st.integers(1, 2**31 - 1), h=st.integers(1, 2**31 - 1),
           fmt=st.sampled_from(["png", "gif", "jpeg", "ppm", "bmp"]))
    def check(w, h, fmt):
        if fmt == "png":
            b = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
                 + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00")
        elif fmt == "gif":
            if w > 0xFFFF or h > 0xFFFF:
                return  # GIF dims are 16-bit by format definition
            b = b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 4
        elif fmt == "ppm":
            b = b"P6\n# c\n%d %d\n255\n" % (w, h) + b"\x00" * 3
        elif fmt == "bmp":
            # a top-down DIB stores a negative height
            b = (b"BM" + b"\x00" * 16 + struct.pack("<ii", w, -h)
                 + b"\x00" * 4)
        else:
            if w > 0xFFFF or h > 0xFFFF:
                return  # JPEG SOF dims are 16-bit
            b = (b"\xff\xd8"
                 + b"\xff\xe0" + struct.pack(">H", 7) + b"JFIF\x00"
                 + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
                 + struct.pack(">HH", h, w) + b"\x01\x11\x00\x00")
        assert parse_image_header(b) == (w, h, fmt)

    check()
    # garbage and truncation never crash, never claim a decode
    assert parse_image_header(b"") is None
    assert parse_image_header(None) is None
    assert parse_image_header(b"\x89PNG\r\n\x1a") is None
    assert parse_image_header(b"\xff\xd8\xff") is None


def test_ivf_topk_properties(spark):
    """IVF-flat ANN contract on the provided embeddings table:
    (a) every returned cosine is the EXACT pair cosine (the probe only
        restricts candidates, never rescores),
    (b) recall@5 vs brute force beats the probed corpus fraction by
        >=2x (nprobe/n_cells = 1/8 of the corpus scanned; near-uniform
        random vectors are IVF's worst case, so the floor is modest
        but the lift must be real),
    (c) output is invariant to input partitioning (determinism claim:
        md5-seeded centroids + rounded cosines + pinned tie-breaks)."""
    from asag_spark.operators.similarity import (
        IVF_CELLS, IVF_NPROBE, cosine_topk, ivf_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 20)
    brute = {(r.query_id, r.neighbor_id): r.cosine
             for r in cosine_topk(e, q, k=5).collect()}
    ivf_rows = ivf_topk(e, q, k=5).collect()
    ivf = {(r.query_id, r.neighbor_id): r.cosine for r in ivf_rows}

    # (a) exact scores on the pairs both return
    for pair in set(brute) & set(ivf):
        assert abs(brute[pair] - ivf[pair]) < 1e-9
    # (b) recall lift over the scanned fraction
    recall = len(set(brute) & set(ivf)) / len(brute)
    scanned = IVF_NPROBE / IVF_CELLS
    assert recall >= 2 * scanned, f"recall {recall} vs scanned {scanned}"
    # (c) partitioning invariance
    a = sorted(map(tuple, ivf_topk(e.repartition(3), q, k=5).collect()))
    b = sorted(map(tuple, ivf_rows))
    assert a == b


def test_ivf_index_roundtrip_and_pruning(spark, tmp_path):
    """The cell-partitioned index: (a) the indexed probe returns
    row-identical results to the inline ivf_topk (same centroids, same
    stored-vs-inline assignment), (b) the probed scan reads ONLY the
    probed cell directories — physical partition pruning, the whole
    point of the layout."""
    from asag_spark.operators.similarity import (
        ivf_index_write, ivf_probe_cells, ivf_topk, ivf_topk_indexed,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    ivf_index_write(e, str(tmp_path))

    inline = sorted(map(tuple, ivf_topk(e, q, k=5).collect()))
    indexed_df = ivf_topk_indexed(spark, str(tmp_path), q, k=5)
    assert sorted(map(tuple, indexed_df.collect())) == inline
    plan_str = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan_str and "ivf_cell" in plan_str

    # physical pruning: the executed scan's numFiles metric must equal
    # the probed-cell file count, a strict subset of all cell dirs
    # (inputFiles() lists the relation PRE-pruning, so metrics are the
    # only honest witness)
    def scan_num_files(df) -> float:
        df.collect()
        total = 0.0
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            if "AdaptiveSparkPlan" in leaf.getClass().getSimpleName():
                inner = leaf.executedPlan().collectLeaves()
                for j in range(inner.length()):
                    l2 = inner.apply(j)
                    if "FileSourceScan" in l2.getClass().getSimpleName():
                        total += l2.metrics().apply("numFiles").value()
            elif "FileSourceScan" in leaf.getClass().getSimpleName():
                total += leaf.metrics().apply("numFiles").value()
        return total

    probed = ivf_probe_cells(spark, str(tmp_path), q)
    full = spark.read.parquet(f"{tmp_path}/index")
    n_full = scan_num_files(full.select("vec_id"))
    n_pruned = scan_num_files(
        full.filter(F.col("ivf_cell").isin(probed)).select("vec_id")
    )
    assert 0 < n_pruned < n_full, (n_pruned, n_full)


def test_lsh_incremental_parity(spark):
    """Incremental LSH (round 3): candidates(old ∪ new) must equal
    candidates(old) ∪ incremental(buckets(old), new) — the persisted
    band-bucket probe finds every pair with ≥1 new member, and pairs
    wholly inside the old corpus are the caller's previous batches."""
    from asag_spark.operators.dedup import (
        lsh_candidate_pairs, lsh_candidate_pairs_incremental,
        minhash_band_buckets,
    )

    import random

    rng = random.Random(99)
    words = [f"w{rng.randrange(500)}" for _ in range(200)]
    rows = []
    for i in range(40):
        base = [rng.choice(words) for _ in range(30)]
        rows.append((2 * i, " ".join(base)))          # original
        v = list(base)
        if i % 2 == 0:
            v[3] = "editX"                            # near-dup partner
        rows.append((2 * i + 1, " ".join(v)))
    docs = spark.createDataFrame(
        [(d, t, "en", "s", len(t)) for d, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # split so dup pairs straddle the boundary: evens old, odds new
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    full = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(docs).collect()}
    old_pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(old).collect()}
    inc = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs_incremental(
            minhash_band_buckets(old), new
        ).collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert all(a in new_ids or b in new_ids for a, b in inc)
    assert old_pairs | inc == full
    assert len(inc) >= 10, "split must exercise cross-boundary dups"


def test_generate_embeddings_deterministic(spark):
    """Counter-based generator: identical rows at any partitioning."""
    from asag_spark.datagen import generate_embeddings

    a = generate_embeddings(spark, 200, partitions=2).collect()
    b = generate_embeddings(spark, 200, partitions=7).collect()
    ka = {r.vec_id: list(r.embedding) for r in a}
    kb = {r.vec_id: list(r.embedding) for r in b}
    assert ka == kb and len(ka) == 200


def test_ivf_empty_corpus_and_empty_queries(spark):
    """Empty corpus or empty query set → empty ranked frame (the same
    graceful contract as cosine_topk), not a driver crash."""
    from asag_spark.operators.similarity import ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    none = e.filter(F.lit(False))
    assert ivf_topk(none, e.limit(3)).count() == 0
    assert ivf_topk(e, none).count() == 0
    assert ivf_topk(none, none).count() == 0


@pytest.fixture(scope="module")
def ann_layouts(spark, sf_dir, tmp_path_factory):
    """The first 64 test-corpus embeddings, their quantizers (4 IVF
    cells, the PQ codebook, the SQ8 scale) and every stored ANN layout
    built from them: (emb, quantizers, {layout name: path})."""
    from asag_spark.operators import similarity as sim

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = e.filter(F.col("vec_id") < 64)
    qz = {
        "centroids": sim.ivf_centroids(e, 4),
        "codebook": sim.pq_codebook(e)[1],
        "scale": sim.sq8_scale(e),
    }
    root = tmp_path_factory.mktemp("ann")
    paths = {n: str(root / n) for n in ("ivf", "sq8", "pq", "ivfpq")}
    sim.ivf_index_write(e, paths["ivf"], n_cells=4)
    sim.sq8_encode(e, paths["sq8"], scale=qz["scale"])
    sim.pq_encode(e, paths["pq"], codebook=qz["codebook"])
    sim.ivfpq_index_write(e, paths["ivfpq"], n_cells=4,
                          codebook=qz["codebook"])
    return e, qz, paths


# entry point → (call(similarity, emb, quantizers, paths, queries),
# its value columns after query_id, neighbor_id, rank)
_EMPTY_QUERY_CASES = {
    "cosine_topk": (lambda s, e, z, p, q: s.cosine_topk(e, q), "cosine"),
    "ivf_topk": (
        lambda s, e, z, p, q: s.ivf_topk(e, q, centroids=z["centroids"]),
        "cosine"),
    "ivf_topk_indexed": (
        lambda s, e, z, p, q: s.ivf_topk_indexed(e.sparkSession, p["ivf"], q),
        "cosine"),
    "sq8_topk": (
        lambda s, e, z, p, q: s.sq8_topk(e, q, scale=z["scale"]),
        "score qcos cosine"),
    "sq8_topk_encoded": (
        lambda s, e, z, p, q: s.sq8_topk_encoded(e.sparkSession, p["sq8"], q),
        "score qcos"),
    "pq_topk": (
        lambda s, e, z, p, q: s.pq_topk(e, q, codebook=z["codebook"]),
        "adist"),
    "pq_topk_encoded": (
        lambda s, e, z, p, q: s.pq_topk_encoded(e.sparkSession, p["pq"], q),
        "adist"),
    "ivfpq_topk": (
        lambda s, e, z, p, q: s.ivfpq_topk(e.sparkSession, p["ivfpq"], q),
        "adist"),
    "ivfpq_topk_refined": (
        lambda s, e, z, p, q: s.ivfpq_topk(e.sparkSession, p["ivfpq"], q,
                                           refine_from=e),
        "l2"),
}


@pytest.mark.parametrize("entry", sorted(_EMPTY_QUERY_CASES))
def test_topk_empty_queries(ann_layouts, entry):
    """An empty query frame → 0 rows with the entry point's documented
    column set — the same schema a non-empty call returns."""
    from asag_spark.operators import similarity as sim

    e, qz, paths = ann_layouts
    call, values = _EMPTY_QUERY_CASES[entry]
    cols = ["query_id", "neighbor_id", "rank", *values.split()]
    out = call(sim, e, qz, paths, e.filter(F.lit(False)))
    assert out.columns == cols
    assert out.count() == 0
    full = call(sim, e, qz, paths, e.filter(F.col("vec_id") < 2))
    assert full.schema.simpleString() == out.schema.simpleString()


def test_topk_zero_norm_keeps_true_neighbors(spark, tmp_path):
    """A zero-norm corpus vector has no defined cosine (0/0 = NaN) and
    must not take one of a query's k slots, in the brute-force scan or
    either IVF path."""
    import pandas as pd

    from asag_spark.operators.similarity import (
        cosine_topk, ivf_index_write, ivf_topk, ivf_topk_indexed,
    )

    vecs = [[1.0, 0.0], [0.9, 0.1], [0.0, 0.0], [0.5, 0.5], [0.1, 0.9],
            [-1.0, 0.0]]
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs}),
        "vec_id long, embedding array<double>",
    )
    q = e.filter(F.col("vec_id") == 0)
    ivf_index_write(e, str(tmp_path), n_cells=1)
    outs = {
        "cosine_topk": cosine_topk(e, q, k=3),
        "ivf_topk": ivf_topk(e, q, k=3, n_cells=1, nprobe=1),
        "ivf_topk_indexed": ivf_topk_indexed(spark, str(tmp_path), q, k=3,
                                             nprobe=1),
    }
    for name, df in outs.items():
        ids = [r["neighbor_id"] for r in sorted(df.collect(),
                                                key=lambda r: r["rank"])]
        assert ids == [1, 3, 4], name


def test_dedup_clusters_transitive(spark):
    """Connected components: transitive closure (A~B~C one cluster even
    when (A,C) was never a pair), min-id labels, diameter-4 chain needs
    multiple propagation rounds, and non-convergence raises instead of
    returning wrong labels."""
    from asag_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (10, 11), (11, 12), (12, 13), (13, 14)],
        "doc_a long, doc_b long",
    )
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5,
                   10: 10, 11: 10, 12: 10, 13: 10, 14: 10}
    # partitioning invariance (min-label is order-free)
    out7 = {r.doc_id: r.cluster_id
            for r in dedup_clusters(pairs.repartition(7)).collect()}
    assert out7 == out
    # distributed path (gate forced off): identical labels, and
    # non-convergence raises instead of returning wrong labels
    outd = {r.doc_id: r.cluster_id
            for r in dedup_clusters(pairs, collect_max_edges=0).collect()}
    assert outd == out
    with pytest.raises(RuntimeError, match="not converged"):
        dedup_clusters(pairs, max_iter=1, collect_max_edges=0)


def test_tfidf_and_corpus_stats(spark):
    """TF-IDF on a constructed corpus: a term unique to one doc ranks
    first there (max idf); a term in every doc scores 0 (ln(1)=0).
    corpus_stats counts exact dups per source."""
    from asag_spark.operators.text import corpus_stats, tfidf_top_terms

    rows = [
        (0, "apple banana banana common", "en", "a", 1),
        (1, "cherry common", "en", "a", 1),
        (2, "cherry common", "en", "b", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    top = {(r.doc_id, r.rank): (r.term, r.tfidf)
           for r in tfidf_top_terms(docs, k=2).collect()}
    assert top[(0, 1)][0] == "banana"          # tf=2 × ln(3/1)
    assert abs(top[(0, 1)][1] - round(2 * __import__("math").log(3), 6)) < 1e-9
    # 'common' appears in all docs → tfidf 0, ranks below any unique term
    assert top[(1, 1)][0] == "cherry"
    assert top[(1, 2)] == ("common", 0.0)
    st = {r.source: r for r in corpus_stats(docs).collect()}
    assert st["a"].n_docs == 2 and st["a"].n_exact_dups == 0
    assert st["b"].n_docs == 1 and st["b"].n_exact_dups == 0
    dup_docs = docs.union(docs.filter(F.col("doc_id") == 2))
    st2 = {r.source: r for r in corpus_stats(dup_docs).collect()}
    assert st2["b"].n_docs == 2 and st2["b"].n_exact_dups == 1


def test_kmv_distinct_sketch(spark):
    """KMV estimator: exact below capacity (n_distinct < k), within the
    1/sqrt(k) error envelope above it, deterministic at any
    partitioning."""
    from asag_spark.operators.sketch import kmv_distinct

    rows = ([("small", f"v{i}") for i in range(20)] * 3
            + [("big", f"u{i}") for i in range(2000)])
    df = spark.createDataFrame(rows, "grp string, val string")
    out = {r.grp: r for r in kmv_distinct(df, "grp", "val", k=64).collect()}
    assert out["small"].est_distinct == 20.0   # lossless below capacity
    assert out["small"].n_hashes == 20
    err = abs(out["big"].est_distinct - 2000) / 2000
    assert err < 3 / (64 ** 0.5), err          # 3 sigma of 1/sqrt(k)
    out7 = {r.grp: r.est_distinct
            for r in kmv_distinct(df.repartition(7), "grp", "val", k=64).collect()}
    assert out7 == {g: r.est_distinct for g, r in out.items()}


def test_split_assign_stable_under_append(spark):
    """The split is a pure function of doc_id: appending new docs never
    moves existing assignments, weights land near their targets."""
    from asag_spark.operators.text import split_assign

    base = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(2000)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    a = {r.doc_id: r.split for r in split_assign(base).collect()}
    more = base.union(spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(2000, 4000)], base.schema))
    b = {r.doc_id: r.split for r in split_assign(more).collect()}
    assert all(b[d] == s for d, s in a.items())      # append-stable
    from collections import Counter
    frac = Counter(b.values())
    assert abs(frac["train"] / 4000 - 0.9) < 0.03
    assert abs(frac["val"] / 4000 - 0.05) < 0.02
    assert abs(frac["test"] / 4000 - 0.05) < 0.02


def test_star_contraction_parity(spark):
    """dedup_clusters == brute union-find on seeded random graphs
    (chains, cliques, sparse forests, a star, a self-pair node) through
    both gated paths: the default driver closure on every case, the
    distributed min-label propagation (collect_max_edges=0) on every
    case but the 60-edge deep chain."""
    import random

    from asag_spark.operators.dedup import dedup_clusters

    def brute(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    rng = random.Random(99)
    cases = []  # (edges, run_distributed_too)
    for trial in range(4):
        n = rng.randrange(20, 70)
        m = rng.randrange(n // 2, 2 * n)
        cases.append(
            ([(rng.randrange(n), rng.randrange(n)) for _ in range(m)], True)
        )
    # deep chain: driver closure only — min-label propagation would
    # burn ~60 sequential Spark rounds here for no extra coverage (its
    # O(diameter) behavior is already pinned by the depth-15 chain)
    cases.append(([(i, i + 1) for i in range(60)], False))
    cases.append(([(i, i + 1) for i in range(15)], True))
    cases.append(([(0, i) for i in range(1, 40)], True))   # star
    cases.append(([(7, 7), (1, 2), (2, 3)], True))          # self-pair node
    for edges, distributed in cases:
        nodes = {x for e in edges for x in e}
        real = [(a, b) for a, b in edges if a != b]
        if not real:
            continue
        want = brute(real, nodes)
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
        assert got == want, (sorted(got.items())[:8], sorted(want.items())[:8])
        if distributed:
            got_dist = {
                r.doc_id: r.cluster_id
                for r in dedup_clusters(
                    pairs, max_iter=30, collect_max_edges=0
                ).collect()
            }
            assert got_dist == want


# --- round-3 training-data additions ----------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_seq_pack_contiguous_and_parallelism_independent(spark):
    """start_tok must be the exact exclusive prefix sum of
    max(n_tokens, 1) in doc_id order — and identical whether computed
    in 1 bucket or 8 (the two-phase prefix sum is a pure function of
    the global order, never of the partitioning)."""
    from asag_spark.operators.text import seq_pack

    rows = [(i, " ".join(["w"] * ((i * 7) % 13)), "en", "s", 1)
            for i in range(0, 40, 3)]  # gappy ids, one empty doc (i=0)
    docs = _docs(spark, rows)
    for nb in (1, 8):
        out = sorted(
            seq_pack(docs, budget=10, n_buckets=nb).collect(),
            key=lambda r: r["doc_id"],
        )
        acc = 0
        for r in out:
            assert r["start_tok"] == acc
            slots = max(r["n_tokens"], 1)
            assert r["pack_id"] == acc // 10
            assert r["n_splits"] == (acc + slots - 1) // 10 - acc // 10
            acc += slots
        if nb == 1:
            baseline = [(r["doc_id"], r["start_tok"], r["pack_id"],
                         r["n_splits"]) for r in out]
        else:
            assert baseline == [(r["doc_id"], r["start_tok"], r["pack_id"],
                                 r["n_splits"]) for r in out]


def test_seq_pack_empty_input(spark):
    from asag_spark.operators.text import seq_pack

    out = seq_pack(_docs(spark, []), budget=16)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "n_tokens", "start_tok", "pack_id", "n_splits"]


def test_stratified_sample_rates_and_append_stability(spark):
    from asag_spark.operators.text import stratified_sample

    rows = [(i, "x", ["en", "de", "xx"][i % 3], "s", 1) for i in range(90)]
    docs = _docs(spark, rows)
    rates = {"en": 1.0, "de": 0.4}
    kept = stratified_sample(docs, rates=rates).collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(by_lang.get("en", set())) == 30        # rate 1.0 → all
    assert "xx" not in by_lang                        # absent stratum → dropped
    assert 0 < len(by_lang.get("de", set())) < 30     # rate 0.4 → strict subset
    # append stability: adding rows never flips an existing decision
    more = _docs(spark, rows + [(i, "x", "de", "s", 1) for i in range(90, 120)])
    kept2 = {(r["doc_id"], r["lang"])
             for r in stratified_sample(more, rates=rates).collect()}
    assert {(r["doc_id"], r["lang"]) for r in kept} <= kept2


def test_stratified_sample_rejects_bad_rate(spark):
    from asag_spark.operators.text import stratified_sample

    with pytest.raises(ValueError):
        stratified_sample(_docs(spark, []), rates={"en": 1.5})


def test_contamination_finds_planted_overlap(spark):
    """Plant one test-split doc sharing its text with one train-split
    doc; everyone else unique. The check must flag exactly the planted
    doc with exactly one match."""
    from asag_spark.operators.text import contamination_check, split_assign

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ids = list(range(200))
    base = _docs(spark, [(i, f"unique text number {i} " * 3, "en", "s", 1)
                         for i in ids])
    weights = {"train": 0.5, "test": 0.5}
    split = {r["doc_id"]: r["split"]
             for r in split_assign(base, weights=weights).collect()}
    train_id = next(i for i in ids if split[i] == "train")
    test_id = next(i for i in ids if split[i] == "test")
    rows = [(i, shared if i in (train_id, test_id)
             else f"unique text number {i} " * 3, "en", "s", 1) for i in ids]
    out = contamination_check(
        _docs(spark, rows), weights=weights, probe_split="test",
        against_split="train").collect()
    assert {(r["doc_id"], r["n_train_matches"]) for r in out} == {(test_id, 1)}
    # max_df=0 drops every fingerprint before the join → empty
    assert contamination_check(
        _docs(spark, rows), weights=weights, max_df=0).count() == 0


def test_repetition_stats_constructed_cases(spark):
    """Gopher-style repetition metrics vs a Counter-based reference:
    dominant bigram, all-unique, single-token clique, 1-token doc
    (0 bigrams), multiplicity >= 2 counted WITH multiplicity."""
    from collections import Counter

    from asag_spark.operators.text import repetition_stats

    texts = {
        1: "a b a b a b a b",
        2: "x y z w v u t s",
        3: "q q q q",
        4: "m",
        5: "p r p s p",
    }

    def brute(t):
        tk = t.split(" ")
        c = Counter(tk)
        bg = Counter(" ".join(p) for p in zip(tk, tk[1:]))
        n, nb = len(tk), max(len(tk) - 1, 0)
        dup = sum(v for v in c.values() if v >= 2)
        topb = max(bg.values()) if bg else 0
        flag = 1 if ((topb * 5 >= nb and nb > 0) or dup * 2 >= n) else 0
        return (n, len(c), max(c.values()), dup, topb, flag)

    out = repetition_stats(_docs(
        spark, [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    )).collect()
    got = {r["doc_id"]: (r["n_tokens"], r["n_distinct"], r["top_token_cnt"],
                         r["dup_token_cnt"], r["top_bigram_cnt"],
                         r["rep_flag"]) for r in out}
    assert got == {i: brute(t) for i, t in texts.items()}


def test_repetition_stats_plan_has_zero_exchanges(spark):
    """The whole point of the run-fold formulation: per-doc metrics
    are pure column expressions, so the plan must contain NO Exchange
    (a groupBy/explode formulation would shuffle token rows)."""
    from asag_spark.operators.text import repetition_stats

    docs = _docs(spark, [(1, "a b a", "en", "s", 5)])
    plan = repetition_stats(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_paragraph_dedup_constructed(spark):
    """First occurrence wins corpus-wide; docs reassemble in chunk
    order; fully-duplicated docs survive with n_kept=0 and empty
    text; output is partitioning-independent."""
    from asag_spark.operators.dedup import paragraph_dedup

    A = "a b c d"            # chunk of doc 0
    B = "e f g h"
    C = "x y z w"
    rows = [
        (0, f"{A} {B}"),     # owns A (idx 0) and B (idx 1)
        (1, f"{C} {A}"),     # owns C; A drops (doc 0 saw it first)
        (2, f"{B} {A}"),     # everything drops -> n_kept 0, text ''
        (3, "short tail"),   # sub-chunk-size doc is its own chunk
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(docs, chunk_tokens=4).collect()
    }
    assert out[0]["text_dedup"] == f"{A} {B}" and out[0]["n_kept"] == 2
    assert out[1]["text_dedup"] == C and out[1]["n_kept"] == 1
    assert out[2]["text_dedup"] == "" and out[2]["n_kept"] == 0
    assert out[2]["n_chunks"] == 2
    assert out[3]["text_dedup"] == "short tail" and out[3]["n_chunks"] == 1

    # partitioning independence: same result at 1 and 7 partitions
    for n in (1, 7):
        again = {
            r["doc_id"]: r["text_dedup"]
            for r in paragraph_dedup(
                docs.repartition(n), chunk_tokens=4
            ).collect()
        }
        assert again == {k: v["text_dedup"] for k, v in out.items()}

    with pytest.raises(ValueError):
        paragraph_dedup(docs, chunk_tokens=0)


def test_paragraph_dedup_plan_shape(spark):
    """The keep-decision is an equi-join (AQE skew-splittable), never
    a BroadcastNestedLoopJoin/cartesian; the winners aggregate is
    partial (map-side combined)."""
    from asag_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [(i, "w x y z " * 3) for i in range(20)], ["doc_id", "text"]
    )
    plan = paragraph_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan  # winners agg map-side combined


def test_bloom_prefilter_superset_and_selective(spark):
    """The Bloom prefilter never drops a true match (superset
    semantics) and actually prunes: with 2000 big keys and 50 small
    keys at 10+ bits/key the survivors are close to the exact 50."""
    from asag_spark.operators.bloom import (
        bloom_build, bloom_prefilter, bloom_semi_join_prefilter,
        bloom_to_array,
    )

    big = spark.createDataFrame([(f"key-{i}",) for i in range(2000)], ["k"])
    small = spark.createDataFrame([(f"key-{i}",) for i in range(0, 2000, 40)],
                                  ["k"])
    kept = bloom_semi_join_prefilter(big, small, "k", m_bits=1 << 12)
    kept_keys = {r["k"] for r in kept.collect()}
    true_keys = {f"key-{i}" for i in range(0, 2000, 40)}
    assert true_keys <= kept_keys          # no false negatives, ever
    assert len(kept_keys) < 200            # ~1-5% fp rate, not pass-through

    # composing prefilter + exact join == plain semi-join, exactly
    exact = {r["k"] for r in big.join(small, "k", "left_semi").collect()}
    refined = {r["k"] for r in kept.join(small, "k", "left_semi").collect()}
    assert refined == exact == true_keys

    # the dense array is tiny and the word table sparse-only
    words = bloom_build(small, "k", m_bits=1 << 12)
    arr = bloom_to_array(words, 1 << 12)
    assert arr.shape == (64,) and words.count() <= 64
    assert bloom_prefilter(big, "k", arr).count() == len(kept_keys)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        bloom_build(small, "k", m_bits=100)     # not a multiple of 64
    with _pytest.raises(ValueError):
        bloom_build(small, "k", n_hashes=0)


def test_contamination_bloom_equals_plain(spark):
    """The Bloom-prefiltered decontamination returns exactly the
    plain check's rows on the planted-overlap corpus."""
    from asag_spark.operators.text import (
        contamination_check, contamination_check_bloom, split_assign,
    )

    ids = list(range(200))
    base = _docs(spark, [(i, f"unique text number {i} " * 3, "en", "s", 1)
                         for i in ids])
    weights = {"train": 0.5, "test": 0.5}
    split = {r["doc_id"]: r["split"]
             for r in split_assign(base, weights=weights).collect()}
    train_id = next(i for i in ids if split[i] == "train")
    test_id = next(i for i in ids if split[i] == "test")
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, shared if i in (train_id, test_id)
             else f"unique text number {i} " * 3, "en", "s", 1) for i in ids]
    docs = _docs(spark, rows)
    plain = sorted(map(tuple, contamination_check(
        docs, weights=weights).collect()))
    bloomed = sorted(map(tuple, contamination_check_bloom(
        docs, weights=weights, m_bits=1 << 14).collect()))
    assert plain == bloomed == [(test_id, 1)]


def test_gopher_filter_constructed_cases(spark):
    """Each rule fires on a doc built to trip exactly it; a clean doc
    keeps; the repetition reason agrees with repetition_stats; the
    plan has zero exchanges."""
    from asag_spark.operators.text import gopher_filter, repetition_stats

    clean = ("the quick brown fox jumps over lazy dogs while many other "
             "animals watch from afar and some birds sing songs about "
             "everything they have seen today in this wide green field")
    rows = [
        (1, clean),
        (2, "the of short text"),                       # too_short (has 2 stopwords)
        (3, "the of " + "ab " * 30),                    # short_words (mean < 2 incl. 2-char toks? 'ab'=2, mean 2 exactly -> craft 1-char)
        (4, "the of " + "x " * 40),                     # short_words
        (5, "the of " + "extraordinarily " * 30),       # long_words
        (6, " ".join(f"w{i}" for i in range(40))),      # stop_words only
        (7, "the of " + "dup dup " * 20),               # repetition
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in gopher_filter(docs).collect()}
    assert out[1]["keep"] == 1 and out[1]["reasons"] == ""
    # (4 tokens -> 3 bigrams, so the 20%-bigram repetition rule also
    # fires trivially on any too-short doc; order is the fixed rule order)
    assert out[2]["reasons"].startswith("too_short")
    assert "short_words" in out[4]["reasons"]
    assert "long_words" in out[5]["reasons"]
    assert out[6]["reasons"] == "stop_words"
    assert "repetition" in out[7]["reasons"] and "stop_words" not in out[7]["reasons"]

    # repetition reason == repetition_stats flag, doc for doc
    flags = {r["doc_id"]: r["rep_flag"] for r in repetition_stats(docs).collect()}
    for i, r in out.items():
        assert ("repetition" in r["reasons"]) == (flags[i] == 1)

    plan = gopher_filter(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_train_shuffle_determinism_and_shape(spark):
    """Epoch shuffle: identical output at any parallelism, contiguous
    1-based positions per shard, a different seed actually permutes,
    and reading shards by (shard, pos) replays every doc exactly once."""
    from asag_spark.operators.text import train_shuffle

    docs = spark.range(0, 300).select(F.col("id").alias("doc_id"))
    a = train_shuffle(docs.repartition(1), n_shards=4)
    b = train_shuffle(docs.repartition(17), n_shards=4)
    rows_a = {(r["doc_id"], r["shard"], r["pos"]) for r in a.collect()}
    rows_b = {(r["doc_id"], r["shard"], r["pos"]) for r in b.collect()}
    assert rows_a == rows_b and len(rows_a) == 300
    by_shard = {}
    for _, s, p in rows_a:
        by_shard.setdefault(s, []).append(p)
    assert set(by_shard) == {0, 1, 2, 3}
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), s
    # a new seed is a genuinely different permutation
    e1 = {(r["doc_id"], r["shard"], r["pos"])
          for r in train_shuffle(docs, n_shards=4, seed="epoch-1").collect()}
    assert e1 != rows_a
    with pytest.raises(ValueError):
        train_shuffle(docs, n_shards=0)


def test_stratum_cap_matches_naive_window(spark):
    """The two-phase salted top-k must emit EXACTLY the naive
    one-window-per-stratum rows — brute-forced here in Python with the
    same md5 hash order — and respect the cap on skewed strata while
    passing small strata whole."""
    import hashlib

    from asag_spark.operators.text import stratum_cap

    rows = [(i, "en" if i % 10 < 7 else ("de" if i % 10 < 9 else "fr"))
            for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")

    def h(i):
        return int(hashlib.md5(f"cap-v1:{i}".encode()).hexdigest()[:15], 16)

    expected = set()
    for lang in ("en", "de", "fr"):
        ids = sorted((h(i), i) for i, lg in rows if lg == lang)
        expected |= {(i, lang, rk + 1) for rk, (_, i) in enumerate(ids[:25])}
    got = {(r["doc_id"], r["lang"], r["rk"])
           for r in stratum_cap(docs, cap=25, salt=8).collect()}
    assert got == expected
    n_by_lang = {"en": 280, "de": 80, "fr": 40}
    for lang, n in n_by_lang.items():
        assert len([1 for _, lg, _ in got if lg == lang]) == min(25, n)
    # parallelism invariance of the salted plan
    got17 = {(r["doc_id"], r["lang"], r["rk"])
             for r in stratum_cap(docs.repartition(17), cap=25, salt=8).collect()}
    assert got17 == got
    with pytest.raises(ValueError):
        stratum_cap(docs, cap=0)


def test_temperature_resample_semantics_and_plan(spark):
    """Integer weights copy exactly; fractional weights land between
    floor and ceil with deterministic per-doc choice; unknown strata
    drop; the plan has ZERO exchanges (row expression + generator
    only); appending docs never changes existing copy counts."""
    from asag_spark.operators.text import temperature_resample

    rows = [(i, ["en", "de", "fr", "xx"][i % 4]) for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    w = {"en": 0.5, "de": 2.0, "fr": 2.25}
    out = temperature_resample(docs, weights=w)
    got = {}
    for r in out.collect():
        got.setdefault((r["doc_id"], r["lang"]), []).append(r["copy_idx"])
    # unknown stratum dropped entirely
    assert not any(lg == "xx" for _, lg in got)
    # de: weight 2.0 → exactly 2 copies, idx 1..2
    de_docs = [i for i, lg in rows if lg == "de"]
    for i in de_docs:
        assert sorted(got[(i, "de")]) == [1, 2]
    # en: 0.5 → docs appear 0 or 1 times, roughly half (deterministic)
    en_n = sum(1 for (i, lg) in got if lg == "en")
    assert 30 <= en_n <= 70  # 100 docs at w=.5; md5-uniform
    # fr: 2.25 → every doc 2 or 3 copies
    fr_counts = {len(v) for (i, lg), v in got.items() if lg == "fr"}
    assert fr_counts <= {2, 3} and 3 in fr_counts
    # zero exchanges in the physical plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # append stability: adding docs changes nothing for existing ids
    more = spark.createDataFrame(
        [(1000 + i, "fr") for i in range(50)], "doc_id long, lang string"
    )
    out2 = {
        (r["doc_id"], r["lang"], r["copy_idx"])
        for r in temperature_resample(docs.union(more), weights=w).collect()
        if r["doc_id"] < 1000
    }
    assert out2 == {(i, lg, c) for (i, lg), v in got.items() for c in v}
    with pytest.raises(ValueError):
        temperature_resample(docs, weights={"en": -0.1})


def test_quality_topq_histogram_quantile(spark):
    """Histogram-exact top-share selection: threshold is the k-th
    largest rounded score, ties at the threshold are INCLUDED, and the
    result is identical at any parallelism. Scores engineered so the
    share boundary lands inside a tie run."""
    from asag_spark.operators.text import quality_topq

    # 10 docs with 'the' repeated i times → stopword_ratio 1, punct 0,
    # quality = .5*min(i/100,1) + .3 + .2 — strictly increasing in i;
    # duplicates of i=7 create a tie run at the k boundary
    rows = [(i, " ".join(["the"] * i)) for i in range(1, 11)]
    rows += [(100 + j, " ".join(["the"] * 7)) for j in range(3)]  # ties
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # n=13, share=0.5 → k=7; sorted desc: i=10,9,8,(7 ×4),6,...
    # 7th largest = 7's score → ties pull in all four i=7 docs
    out = {r["doc_id"] for r in quality_topq(docs, share=0.5).collect()}
    assert out == {10, 9, 8, 7, 100, 101, 102}
    out17 = {
        r["doc_id"]
        for r in quality_topq(docs.repartition(17), share=0.5).collect()
    }
    assert out17 == out
    # share=1.0 keeps everything
    assert quality_topq(docs, share=1.0).count() == 13
    with pytest.raises(ValueError):
        quality_topq(docs, share=0.0)


def test_quality_topq_scans_docs_exactly_twice(spark):
    """The histogram quantile touches the corpus exactly twice
    (histogram build + final threshold filter) — a separate total
    branch would silently re-scan a third time."""
    import os
    import tempfile

    from asag_spark.operators.text import quality_topq

    d = tempfile.mkdtemp(prefix="topq_scan_")
    try:
        spark.createDataFrame(
            [(i, f"text {'x ' * (i % 20)}") for i in range(200)],
            "doc_id long, text string",
        ).write.mode("overwrite").parquet(f"{d}/docs")
        docs = spark.read.parquet(f"{d}/docs")
        plan = (
            quality_topq(docs)._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert plan.count(f"{os.path.basename(d)}/docs") == 2, plan
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def test_chunk_windows_boundaries_and_plan(spark):
    """Chunk math on constructed token counts: short doc → one chunk;
    exact-window doc → one chunk; W+1 tokens → two chunks with the
    final window reaching the last token; reconstruction property —
    every token index is covered by at least one chunk; zero
    exchanges in the plan."""
    from asag_spark.operators.text import chunk_windows

    def doc(i, n):
        return (i, " ".join(f"w{j}" for j in range(n)))

    docs = spark.createDataFrame(
        [doc(1, 5), doc(2, 32), doc(3, 33), doc(4, 100)],
        "doc_id long, text string",
    )
    out = chunk_windows(docs)  # W=32, S=24
    rows = {}
    for r in out.collect():
        rows.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r
    assert set(rows[1]) == {0} and rows[1][0]["n_chunk_tokens"] == 5
    assert set(rows[2]) == {0} and rows[2][0]["n_chunk_tokens"] == 32
    # 33 tokens: ceil((33-32)/24)+1 = 2 chunks; chunk1 = tokens 24..32
    assert set(rows[3]) == {0, 1}
    assert rows[3][1]["chunk_text"].split() == [f"w{j}" for j in range(24, 33)]
    assert rows[3][1]["n_chunk_tokens"] == 9
    # 100 tokens: ceil(68/24)+1 = 4 chunks; full coverage incl. w99
    assert set(rows[4]) == {0, 1, 2, 3}
    covered = set()
    for ci, r in rows[4].items():
        ws = r["chunk_text"].split()
        assert ws[0] == f"w{ci * 24}" and len(ws) == r["n_chunk_tokens"]
        covered |= set(ws)
    assert covered == {f"w{j}" for j in range(100)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError):
        chunk_windows(docs, window=16, stride=24)


def test_keep_best_per_cluster_semantics(spark):
    """Exactly one keeper per cluster; keeper = max score, id
    tie-break; singletons keep themselves."""
    from asag_spark.operators.dedup import keep_best_per_cluster

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5)],
        "doc_id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.5), (6, 0.5)],
        "doc_id long, quality double",
    )
    out = {r["doc_id"]: r for r in
           keep_best_per_cluster(labels, scores).collect()}
    keepers = {d for d, r in out.items() if r["keep"] == 1}
    # cluster 1: 2 and 3 tie at 0.9 → smallest id 2; cluster 4:
    # singleton; cluster 5: 5 and 6 tie → 5
    assert keepers == {2, 4, 5}
    per_cluster = {}
    for r in out.values():
        per_cluster.setdefault(r["cluster_id"], 0)
        per_cluster[r["cluster_id"]] += r["keep"]
    assert all(v == 1 for v in per_cluster.values())


def test_pii_scrub_semantics_and_plan(spark):
    from asag_spark.operators.text import pii_scrub

    rows = [
        (0, "mail me at bob.smith+x@corp.example.com today"),
        (1, "server 192.168.1.254 and peer 10.0.0.1 up"),
        (2, "call +47 91 23 45 67 or +1-555-123-4567 now"),
        (3, "nothing sensitive here at all"),
        # email whose local part contains +digits: the pinned
        # email-first order must consume it before the phone pass
        (4, "a+4712345678@ex.org"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x["doc_id"]: x for x in pii_scrub(docs).collect()}
    assert (r[0]["n_emails"], r[0]["n_ips"], r[0]["n_phones"]) == (1, 0, 0)
    assert r[0]["scrubbed"] == "mail me at <EMAIL> today"
    assert (r[1]["n_emails"], r[1]["n_ips"], r[1]["n_phones"]) == (0, 2, 0)
    assert r[1]["scrubbed"] == "server <IP> and peer <IP> up"
    assert r[2]["n_phones"] == 2
    assert r[2]["scrubbed"] == "call <PHONE> or <PHONE> now"
    assert r[3]["scrubbed"] == rows[3][1]
    # counts are taken on the RAW text (the +digits run does match the
    # phone pattern there), but redaction order makes email win
    assert r[4]["n_emails"] == 1 and r[4]["scrubbed"] == "<EMAIL>"
    plan = pii_scrub(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bpe_pair_counts_weighted(spark):
    from asag_spark.operators.text import bpe_pair_counts

    # "abab" x3 docs + "bc" once; pairs of abab = ab,ba,ab; word freq
    # weights multiply: ab -> 2*3=6, ba -> 1*3=3, bc -> 1
    docs = spark.createDataFrame(
        [(0, "abab ABAB"), (1, "abab"), (2, "bc!")],
        "doc_id long, text string",
    )
    got = [(r["rank"], r["pair"], r["n"])
           for r in bpe_pair_counts(docs, top=10).collect()]
    # distinct-word weighting: vocab = {abab: 3 (case-folded), bc: 1}
    assert got == [(1, "ab", 6), (2, "ba", 3), (3, "bc", 1)]
    plan = (bpe_pair_counts(docs, top=10)
            ._jdf.queryExecution().executedPlan().toString())
    # global top-N must compile to a bounded heap, never a full sort
    assert "TakeOrderedAndProject" in plan


def test_sq8_topk_quantization_and_recall(spark, sf_dir):
    from asag_spark.operators.similarity import cosine_topk, sq8_scale, sq8_topk

    # constructed case: global scale = max|x| = 4.0, so codes are
    # exact: x*127/4 -> 2.0 -> 64 (floor(63.5+0.5)), -4.0 -> -127,
    # 1.0 -> 32 (floor(31.75+0.5))
    rows = [(0, [2.0, 0.0]), (1, [-4.0, 0.0]), (2, [1.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert sq8_scale(emb) == 4.0
    got = {(r.query_id, r.neighbor_id): (r.score, r.rank)
           for r in sq8_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()}
    # codes: v0=[64,0], v1=[-127,0], v2=[32,32]
    # scores vs v0: v1 = -8128, v2 = 2048; qcos ranks v2 first
    assert got == {(0, 2): (2048, 1), (0, 1): (-8128, 2)}

    # recall vs the exact brute-force ranking on the real table —
    # 8-bit symmetric quantization should be near-lossless here
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(e, q, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in sq8_topk(e, q, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"SQ8 recall@5 collapsed: {recall}"


def test_boilerplate_removal_drops_all_copies(spark):
    from asag_spark.operators.dedup import boilerplate_removal

    # 4-token chunks; "a b c d" appears in 3 docs (hot at min_docs=3),
    # "x y z w" in only 2 (kept). Doc 3 is pure boilerplate.
    rows = [
        (0, "a b c d e f g h"),
        (1, "a b c d x y z w"),
        (2, "x y z w p q r s"),
        (3, "a b c d"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x["doc_id"]: x for x in
         boilerplate_removal(docs, min_docs=3, chunk_tokens=4).collect()}
    assert (r[0]["n_chunks"], r[0]["n_kept"]) == (2, 1)
    assert r[0]["text_clean"] == "e f g h"
    # unlike paragraph_dedup, the FIRST copy dies too
    assert r[1]["text_clean"] == "x y z w"
    assert r[2]["text_clean"] == "x y z w p q r s"
    assert (r[3]["n_kept"], r[3]["text_clean"]) == (0, "")


def test_sq8_encoded_matches_inline(spark, sf_dir, tmp_path):
    from asag_spark.operators.similarity import sq8_encode, sq8_topk, sq8_topk_encoded

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "sq8")
    sq8_encode(e, path)
    enc = {(r.query_id, r.neighbor_id): (r.rank, r.score, r.qcos)
           for r in sq8_topk_encoded(spark, path, q, k=5).collect()}
    inline = {(r.query_id, r.neighbor_id): (r.rank, r.score, r.qcos)
              for r in sq8_topk(e, q, k=5).collect()}
    # stored codes were produced by the same floor(t+0.5) rule, so the
    # encoded read path is BIT-identical to inline quantization
    assert enc == inline and len(enc) == 25
    # codes are physically tinyint
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.schema["codes"].dataType.simpleString() == "array<tinyint>"


def test_lm_bigram_score_semantics(spark):
    from math import log

    from asag_spark.operators.text import lm_bigram_score

    rows = [
        (0, "a b a b a b"),      # only corpus-frequent bigrams
        (1, "a b x y"),          # two rare bigrams alongside one hot one
        (2, "z"),                # single token: no bigrams
        (3, ""),                 # empty text: one ''-token, no bigrams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x["doc_id"]: x for x in lm_bigram_score(docs).collect()}
    assert r[2]["n_bigrams"] == 0 and r[2]["nll"] is None
    assert r[3]["n_bigrams"] == 0 and r[3]["nll"] is None
    assert r[0]["n_bigrams"] == 5 and r[1]["n_bigrams"] == 3
    # the all-hot-bigram doc is the more corpus-typical one
    assert r[0]["nll"] < r[1]["nll"]
    # hand-check doc 0: corpus bigrams ab=4, ba=2; unigrams a=4, b=4;
    # V=6 (a, b, x, y, z, and the ''-token of the empty doc) —
    # add-one: p(b|a)=(4+1)/(4+6), p(a|b)=(2+1)/(4+6)
    t_ab = int(-log(5 / 10) * 1e6 + 0.5)
    t_ba = int(-log(3 / 10) * 1e6 + 0.5)
    expect = round((3 * t_ab + 2 * t_ba) / (5 * 1e6), 6)
    assert r[0]["nll"] == pytest.approx(expect, abs=1e-9)


def test_pq_encoded_matches_inline(spark, sf_dir, tmp_path):
    from asag_spark.operators.similarity import pq_encode, pq_topk, pq_topk_encoded

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "pq")
    pq_encode(e, path)
    enc = {(r.query_id, r.neighbor_id): (r.rank, r.adist)
           for r in pq_topk_encoded(spark, path, q, k=5).collect()}
    inline = {(r.query_id, r.neighbor_id): (r.rank, r.adist)
              for r in pq_topk(e, q, k=5).collect()}
    # stored codes came from the same per-dimension-quantized argmin,
    # so the encoded read path is BIT-identical to inline encoding
    assert enc == inline and len(enc) == 25
    # codes are physically one byte per subspace
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.schema["codes"].dataType.simpleString() == "array<tinyint>"
    assert codes.select(F.max(F.size("codes"))).collect()[0][0] == 8


def test_pq_codes_partition_invariant(spark, sf_dir):
    from asag_spark.operators.similarity import pq_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    a = {(r.query_id, r.neighbor_id, r.rank, r.adist)
         for r in pq_topk(e.repartition(3), q, k=5).collect()}
    b = {(r.query_id, r.neighbor_id, r.rank, r.adist)
         for r in pq_topk(e.repartition(17), q, k=5).collect()}
    assert a == b and len(a) == 25


def test_ngram_scrub_misaligned_repeat(spark):
    """The differentiator vs fixed-boundary chunking: the same 4-token
    phrase planted at DIFFERENT offsets in two docs is caught by the
    sliding window (and would never align to a shared chunk)."""
    from asag_spark.operators.dedup import boilerplate_removal, ngram_span_scrub

    phrase = "all rights reserved worldwide"
    rows = [
        (0, "u0 u1 " + phrase + " u2 u3"),          # phrase at offset 2
        (1, "v0 " + phrase + " v1 v2 v3"),          # phrase at offset 1
        (2, "w0 w1 w2 w3 w4 w5 w6 w7"),             # clean
        (3, "x0"),                                  # shorter than n
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x["doc_id"]: x for x in
         ngram_span_scrub(docs, n=4, min_count=2).collect()}
    assert r[0]["text_clean"] == "u0 u1 u2 u3" and r[0]["n_dropped"] == 4
    assert r[1]["text_clean"] == "v0 v1 v2 v3" and r[1]["n_dropped"] == 4
    assert r[2]["n_dropped"] == 0 and r[2]["text_clean"] == rows[2][1]
    assert r[3]["n_dropped"] == 0 and r[3]["text_clean"] == "x0"
    # fixed 4-token chunking misses it: offsets 2 and 1 produce
    # different chunk strings, so nothing reaches the min_docs gate
    bp = {x["doc_id"]: x for x in
          boilerplate_removal(docs, min_docs=2, chunk_tokens=4).collect()}
    assert bp[0]["n_kept"] == bp[0]["n_chunks"]  # nothing dropped


def test_ngram_scrub_overlap_cover_merges(spark):
    """Overlapping repeated windows merge into one contiguous dropped
    interval; a token covered by two windows drops once."""
    from asag_spark.operators.dedup import ngram_span_scrub

    # docs share a 5-token run -> two overlapping 4-windows each
    rows = [
        (0, "a b c d e p q"),
        (1, "z a b c d e y"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x["doc_id"]: x for x in
         ngram_span_scrub(docs, n=4, min_count=2).collect()}
    assert r[0]["text_clean"] == "p q" and r[0]["n_dropped"] == 5
    assert r[1]["text_clean"] == "z y" and r[1]["n_dropped"] == 5


def test_rendezvous_minimal_movement(spark, sf_dir):
    """HRW property: going N -> N+1 shards moves ~1/(N+1) of docs and
    every mover lands IN the new shard; mod-N (train_shuffle) remaps
    ~N/(N+1) — the difference between backfilling one shard and
    rewriting the corpus."""
    from asag_spark.operators.text import rendezvous_shards, train_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {r["doc_id"]: r["shard"] for r in rendezvous_shards(docs, 8).collect()}
    b = {r["doc_id"]: r["shard"] for r in rendezvous_shards(docs, 9).collect()}
    moved = {d for d in a if a[d] != b[d]}
    n = len(a)
    assert n / 9 * 0.5 <= len(moved) <= n / 9 * 1.8
    assert all(b[d] == 8 for d in moved)
    # shards are reasonably balanced
    from collections import Counter

    c = Counter(a.values())
    assert len(c) == 8 and max(c.values()) <= 3 * min(c.values())
    # contrast: mod-N remaps the majority
    ta = {r["doc_id"]: r["shard"] for r in train_shuffle(docs, 8).collect()}
    tb = {r["doc_id"]: r["shard"] for r in train_shuffle(docs, 9).collect()}
    assert sum(1 for d in ta if ta[d] != tb[d]) > n * 0.6


def test_ivfpq_parity_and_pruning(spark, sf_dir, tmp_path):
    """IVF-PQ composed index: (a) probe output equals an independent
    numpy composition of the two quantizers (probe mask x ADC over
    codes), (b) the probe plan carries the ivf_cell PartitionFilters
    (file-level pruning, codes-only scan), (c) refine reranks by
    exact L2 and never loses recall vs pure ADC."""
    import numpy as np

    from asag_spark.operators.similarity import (
        IVF_NPROBE, _pq_codes, _pq_sqdist_q, _probe_sets, ivf_centroids,
        ivfpq_index_write, ivfpq_topk, pq_codebook,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivfpq")
    ivfpq_index_write(e, path)
    out_df = ivfpq_topk(spark, path, q, k=5)
    out = out_df.collect()

    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    X = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    c_ids, C = ivf_centroids(e)
    _, CB = pq_codebook(e)
    cn = np.sqrt((C * C).sum(1))
    qm = ids < 5
    Q, q_ids = X[qm], ids[qm]
    M = _probe_sets(Q, np.sqrt((Q * Q).sum(1)), C, cn, IVF_NPROBE)
    xn = np.sqrt((X * X).sum(1))
    cell_col = np.argmax(
        np.round((X @ C.T) / (xn[:, None] * cn[None, :]), 6), axis=1
    )
    codes = _pq_codes(X, CB)
    m = CB.shape[0]
    LUT = np.stack([_pq_sqdist_q(Q, CB, s) for s in range(m)], axis=1)
    ref = set()
    for j in range(len(q_ids)):
        ad = np.zeros(len(ids), dtype=np.int64)
        for s in range(m):
            ad += LUT[j, s, :][codes[:, s]]
        ok = M[cell_col, j] & (ids != q_ids[j])
        cand = np.where(ok)[0]
        order = cand[np.lexsort((ids[cand], ad[cand]))][:5]
        for rk, i in enumerate(order, 1):
            ref.add((q_ids[j], ids[i], rk, ad[i]))
    assert {(r.query_id, r.neighbor_id, r.rank, r.adist)
            for r in out} == ref

    plan_str = out_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan_str and "ivf_cell" in plan_str

    # refine: within the probed candidate set, the exact-L2 rerank's
    # top-1 per query is at least as close as pure ADC's top-1
    by_q_true = {}
    for qi in np.where(qm)[0]:
        d = ((X - X[qi]) ** 2).sum(1)
        d[qi] = np.inf
        by_q_true[ids[qi]] = d
    adc1 = {r.query_id: r.neighbor_id for r in out if r.rank == 1}
    ref1 = {r.query_id: r.neighbor_id
            for r in ivfpq_topk(spark, path, q, k=5, refine_from=e).collect()
            if r.rank == 1}
    id_pos = {int(v): i for i, v in enumerate(ids)}
    for qid in ref1:
        d = by_q_true[qid]
        assert d[id_pos[ref1[qid]]] <= d[id_pos[adc1[qid]]] + 1e-12


def test_ngram_scrub_identity_when_unique(spark):
    """No repeated window -> text passes through whitespace-normalized
    with n_dropped = 0 (the scrubber must never touch unique text)."""
    from asag_spark.operators.dedup import ngram_span_scrub

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(20))) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x["doc_id"]: x for x in ngram_span_scrub(docs, n=4).collect()}
    for i, text in rows:
        assert r[i]["n_dropped"] == 0 and r[i]["text_clean"] == text


def test_ngram_scrub_full_duplicate_dies_everywhere(spark):
    """An exact duplicate doc: every window repeats, so BOTH copies
    scrub to empty (all-copies-die semantics at window granularity —
    exact keeper selection is exact_dedup's job, run before this)."""
    from asag_spark.operators.dedup import ngram_span_scrub

    t = " ".join(f"t{j}" for j in range(12))
    docs = spark.createDataFrame(
        [(0, t), (1, t), (2, "solo " + " ".join(f"u{j}" for j in range(11)))],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in ngram_span_scrub(docs, n=4).collect()}
    assert r[0]["text_clean"] == "" and r[0]["n_dropped"] == 12
    assert r[1]["text_clean"] == "" and r[1]["n_dropped"] == 12
    assert r[2]["n_dropped"] == 0


def test_dsir_target_like_scores_higher(spark):
    """DSIR semantics: a raw doc sharing the target corpus's n-gram
    profile outscores raw docs with disjoint vocabulary, every raw doc
    gets exactly one row, and target docs get none (selection operates
    on the raw pool only)."""
    from asag_spark.operators.text import dsir_weights

    tphrase = "alpha beta gamma delta"
    rows = [(i, tphrase + " alpha beta", "en", "src0") for i in range(6)]
    rows.append((100, tphrase, "en", "raw"))
    rows += [
        (i, " ".join(f"z{i}_{j}" for j in range(4)), "en", "raw")
        for i in range(101, 106)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {
        r["doc_id"]: r
        for r in dsir_weights(
            docs, target_sources=("src0",), n_buckets=256
        ).collect()
    }
    assert set(out) == {100, 101, 102, 103, 104, 105}
    # 4 unigrams + 3 bigrams
    assert out[100]["n_grams"] == 7
    for i in range(101, 106):
        assert out[i]["logw"] < out[100]["logw"]


def test_keep_best_partial_scores_left_join(spark):
    """keep_best_per_cluster with PARTIAL score coverage: unscored
    docs survive with NULL score and rank below every scored member;
    a cluster scored nowhere still keeps exactly one row (smallest
    id) — an inner join would silently delete docs and could leave a
    cluster with zero keepers."""
    from asag_spark.operators.dedup import keep_best_per_cluster

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    # cluster 1: only doc 2 scored -> 2 keeps despite not being min id;
    # cluster 10: nobody scored -> smallest id 10 keeps
    scores = spark.createDataFrame([(2, 0.5)], "doc_id long, quality double")
    out = {r["doc_id"]: r for r in
           keep_best_per_cluster(labels, scores).collect()}
    assert len(out) == 5                       # nothing dropped
    assert out[2]["keep"] == 1 and out[1]["keep"] == 0 and out[3]["keep"] == 0
    assert out[1]["quality"] is None
    assert out[10]["keep"] == 1 and out[11]["keep"] == 0
    keepers = [r for r in out.values() if r["keep"] == 1]
    assert len(keepers) == 2                   # exactly one per cluster


def test_dedup_clusters_gate_parity_random_graphs(spark):
    """Driver-side and distributed closures produce identical labels
    on seeded random graphs (chains, cliques, isolated self-pairs,
    string ids) — the strategy gate must be invisible in the output."""
    import random

    from asag_spark.operators.dedup import dedup_clusters

    rng = random.Random(11)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges += [(100 + i, 100 + i + 1) for i in range(12)]   # long chain
    edges += [(200, 200)]                                  # self-pair
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    dist = {r.doc_id: r.cluster_id
            for r in dedup_clusters(pairs, collect_max_edges=0).collect()}
    assert fast == dist and len(fast) > 0
    # string ids: UTF-8 binary min == Python min for these keys
    spairs = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "x"), ("Z", "a")],
        "doc_a string, doc_b string",
    )
    sfast = {r.doc_id: r.cluster_id for r in dedup_clusters(spairs).collect()}
    sdist = {r.doc_id: r.cluster_id
             for r in dedup_clusters(spairs, collect_max_edges=0).collect()}
    assert sfast == sdist
    assert sfast["b"] == "Z"  # 'Z' < 'a' in both orderings


def test_weighted_sample_bias_and_determinism(spark):
    """Heavier rows win more slots (statistical bias check over a
    deterministic draw), the selection is a pure function of (seed,
    id) at any parallelism, non-positive/null weights never qualify,
    and the plan is TakeOrderedAndProject (no full sort exchange)."""
    from asag_spark.operators.text import weighted_sample

    rows = [(i, 10.0 if i < 500 else 1.0) for i in range(1000)]
    rows += [(2000, 0.0), (2001, -3.0), (2002, None)]
    docs = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_sample(docs, k=200, weight_col="w")
    ids = {r.doc_id for r in out.collect()}
    assert len(ids) == 200
    assert not ids & {2000, 2001, 2002}
    heavy = sum(1 for i in ids if i < 500)
    # E[heavy] ~ 180 of 200 under 10:1 weights; far from uniform's 100
    assert heavy > 140
    ids7 = {r.doc_id
            for r in weighted_sample(docs.repartition(7), k=200,
                                     weight_col="w").collect()}
    assert ids7 == ids
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_prefix_monotone(spark):
    """The k winners are a prefix of one fixed total order, so
    weighted_sample(k=50) is a subset of weighted_sample(k=120) on
    the same corpus and seed."""
    from asag_spark.operators.text import weighted_sample

    docs = spark.createDataFrame(
        [(i, float(1 + i % 9)) for i in range(600)], "doc_id long, w double"
    )
    small = {r.doc_id for r in
             weighted_sample(docs, k=50, weight_col="w").collect()}
    big = {r.doc_id for r in
           weighted_sample(docs, k=120, weight_col="w").collect()}
    assert small < big and len(small) == 50 and len(big) == 120
