"""Cross-snapshot incremental dedup (VERDICT r7 #1; layout r9): the
operator's entire value is incremental(old, new) ≡ from-scratch(old ∪
new) restricted to the new snapshot — pinned here on corpora with
cross-snapshot AND within-snapshot duplicates, old docs with ids that
interleave the new ids (precedence is (snapshot, docno), not numeric
id), and docs too short to shingle (exact-path-only coverage). The r9
snapshot-partitioned store adds: in-place O(snapshot) fold-in equal to
a rebuild (add / remove / re-add directions), compaction preserving
logical content, index-served embedding retraction, replay-idempotent
streaming (ADVICE r8 medium), and the cross-snapshot keep-first
removal action (VERDICT r8 #2)."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from hadoop_ir_spark.operators import dedup_incremental as dinc

WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima mike november oscar papa quebec romeo sierra tango "
         "uniform victor whiskey xray yankee zulu one two three four five "
         "six seven eight nine ten eleven twelve thirteen fourteen")


def _shingle_set(text, k=3):
    toks = [t for t in text.lower().split() if t]
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _scratch_statuses(old, new, tau=0.9):
    """Brute-force from-scratch rule on old ∪ new: a NEW doc drops iff
    an exact-text or Jaccard >= tau partner of lower precedence exists
    (precedence = (snapshot, docno))."""
    uni = [(0, d, t) for d, t in old] + [(1, d, t) for d, t in new]
    out = {}
    for isn, d, t in uni:
        if not isn:
            continue
        dropped = False
        s = _shingle_set(t)
        for isn2, d2, t2 in uni:
            if (isn2, d2) >= (isn, d):
                continue
            if t2 == t:
                dropped = True
                break
            s2 = _shingle_set(t2)
            if s and s2:
                j = len(s & s2) / len(s | s2)
                if j >= tau:
                    dropped = True
                    break
        out[d] = "dropped" if dropped else "kept"
    return out


@pytest.fixture(scope="module")
def snapshots():
    a = WORDS                         # 40 tokens
    a_near = WORDS + " extra"         # J = 38/39 ≈ 0.974
    d = " ".join(w + "x" for w in WORDS.split())
    d_near = d + " moretail"
    c = "completely separate content " + " ".join(
        f"w{i}" for i in range(30))
    old = [(10, a), (11, "other old content " + d[:50]), (2, c)]
    new = [
        (1, a_near),      # near-dup of OLD id 10 — numeric id LOWER
        (5, d),           # kept (its partner is higher-id)
        (6, d_near),      # within-new near-dup -> dropped
        (7, "tiny doc"),  # too short to shingle...
        (8, "tiny doc"),  # ...exact path must still drop this one
        (9, c),           # exact copy of OLD -> dropped
        (12, "entirely unique new content nothing shared here at all "
             + " ".join(f"u{i}" for i in range(20))),
    ]
    return old, new


def _df(spark, rows):
    return spark.createDataFrame(rows, "docno long, text string")


def _index_content(spark, idx_dir):
    """The index's LOGICAL content (tombstones applied, count deltas
    summed) as sorted python values — what rebuild-equality compares."""
    out = {}
    for t, df in dinc.load_dedup_index(spark, idx_dir).items():
        out[t] = sorted(map(tuple, df.collect()))
    return out


def test_incremental_equals_from_scratch(spark, tmp_path, snapshots):
    old, new = snapshots
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    got = {r["docno"]: r["status"]
           for r in dinc.dedup_incremental(_df(spark, new), idx).collect()}
    assert got == _scratch_statuses(old, new)
    # the interesting rows, spelled out: old-precedes-new regardless of
    # numeric id; exact path catches unshingleable docs
    assert got[1] == "dropped" and got[5] == "kept" and got[6] == "dropped"
    assert got[7] == "kept" and got[8] == "dropped"
    assert got[9] == "dropped" and got[12] == "kept"


def test_update_index_equals_rebuild(spark, tmp_path, snapshots):
    """In-place O(snapshot) fold-in (VERDICT r8 #1): appending a snap
    partition must be logically identical to rebuilding from scratch."""
    old, new = snapshots
    idx = str(tmp_path / "idx")
    idx_scratch = str(tmp_path / "scratch")
    dinc.build_dedup_index(_df(spark, old), idx)
    dinc.update_dedup_index(spark, idx, _df(spark, new))
    dinc.build_dedup_index(_df(spark, old + new), idx_scratch)
    a, b = _index_content(spark, idx), _index_content(spark, idx_scratch)
    assert set(a) == set(b)
    for t in a:
        assert a[t] == b[t], t
    # and the folded index answers queries over old ∪ new as "old":
    # a doc duplicating a NEW-snapshot doc must now drop via the index
    probe = _df(spark, [(100, new[1][1])])      # exact copy of folded doc 5
    got = {r["docno"]: r["status"]
           for r in dinc.dedup_incremental(probe, idx).collect()}
    assert got == {100: "dropped"}


def test_update_index_param_mismatch_raises(spark, tmp_path, snapshots):
    old, new = snapshots
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx, k=3)
    with pytest.raises(ValueError, match="parameter mismatch"):
        dinc.update_dedup_index(spark, idx, _df(spark, new), k=4)


def test_incremental_dup_spans_equals_scratch(spark, tmp_path):
    from hadoop_ir_spark.operators.winnow import duplicated_spans

    span_s = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    span_t = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    old = [(100, f"{span_s} filler old words here aa bb cc dd")]
    new = [
        (1, f"pre1 pre2 {span_s} post1"),    # cross-snapshot dup span
        (2, f"{span_t} mid1 mid2 mid3"),     # within-new dup span...
        (3, f"zz {span_t}"),                 # ...both sides spanned
        (4, "nothing duplicated in this one at all n1 n2 n3 n4 n5"),
    ]
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx, min_len=8)
    got = {tuple(r) for r in dinc.incremental_dup_spans(
        _df(spark, new), idx, min_len=8).collect()}
    new_ids = {d for d, _ in new}
    want = {tuple(r) for r in duplicated_spans(
        _df(spark, old + new), min_len=8).collect()
        if r["docno"] in new_ids}
    assert got == want
    assert {r[0] for r in got} == {1, 2, 3}


# ---------------------------------------------------------------------------
# keep-first across snapshots (VERDICT r8 #2)
# ---------------------------------------------------------------------------

_PREC_OFFSET = 1_000_000   # encodes (snapshot, docno) order numerically


def _scratch_keep_first(spark, old, new, min_len=8):
    """From-scratch keep-first over old ∪ new with the incremental
    family's precedence, via ``remove_duplicated_spans(keep="first")``
    on precedence-encoded docnos (old ids < every offset new id, new
    order preserved), restricted to the new snapshot."""
    from hadoop_ir_spark.operators.winnow import remove_duplicated_spans

    assert all(d < _PREC_OFFSET for d, _ in old)
    uni = old + [(d + _PREC_OFFSET, t) for d, t in new]
    rows = remove_duplicated_spans(
        _df(spark, uni), min_len=min_len, keep="first").collect()
    return {r["docno"] - _PREC_OFFSET:
            (r["clean_text"], r["n_tokens"], r["n_removed"])
            for r in rows if r["docno"] >= _PREC_OFFSET}


def test_incremental_keep_first_equals_scratch(spark, tmp_path):
    span = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    span2 = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"
    # old owner has a HIGHER numeric id than the new copies: precedence,
    # not id order, must decide canonical ownership
    old = [(100, f"{span} old filler aa bb cc dd ee ff gg hh")]
    new = [
        (1, f"n1 n2 {span} n3"),          # old owns canonical -> excised
        (2, f"{span2} m1 m2 m3 m4"),      # snapshot-confined dup: doc 2
        (3, f"zz {span2} tail1"),         # is canonical, doc 3 excised
        (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 nothing duplicated here"),
    ]
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx, min_len=8)
    got = {r["docno"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
           for r in dinc.incremental_clean_keep_first(
               _df(spark, new), idx, min_len=8).collect()}
    assert got == _scratch_keep_first(spark, old, new)
    # spelled out: old-side ownership excises the new copy...
    assert "p1" not in got[1][0] and got[1][2] > 0
    # ...snapshot-confined spans survive at their earliest new home only
    assert "q1" in got[2][0] and got[2][2] == 0
    assert "q1" not in got[3][0] and got[3][2] > 0
    assert got[4][2] == 0


def test_keep_first_conservation_across_snapshots(spark, tmp_path,
                                                  snapshots):
    """Cross-snapshot text conservation: every duplicated L-gram keeps
    at least one live occurrence — in the untouched old corpus if it
    has one there, else at its canonical new home."""
    L = 8
    span = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    old = [(50, f"{span} old context oa ob oc od oe of og oh")]
    new = [(5, f"x1 x2 {span} x3"),
           (6, f"{span} y1 y2 y3"),
           (7, "w1 w2 w3 fresh f1 f2 f3 f4 f5 f6 f7 f8 f1 f2 f3 f4 f5 "
               "f6 f7 f8 trailing tokens here")]   # within-doc repeat
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx, min_len=L)
    cleaned = {r["docno"]: r["clean_text"]
               for r in dinc.incremental_clean_keep_first(
                   _df(spark, new), idx, min_len=L).collect()}

    def grams(text):
        toks = text.lower().split()
        return {" ".join(toks[i:i + L]) for i in range(len(toks) - L + 1)}

    from collections import Counter
    counts = Counter()
    for _, t in old + new:
        toks = t.lower().split()
        for i in range(len(toks) - L + 1):
            counts[" ".join(toks[i:i + L])] += 1
    surviving = set()
    for _, t in old:                       # old corpus is untouched
        surviving |= grams(t)
    for d in cleaned:
        surviving |= grams(cleaned[d])
    for g, n in counts.items():
        if n >= 2:
            assert g in surviving, f"duplicated gram lost everywhere: {g}"


def test_keep_first_after_retraction(spark, tmp_path):
    """Retracting the old canonical owner hands ownership to the
    earliest new copy — counts decrement, no stored min to invalidate
    (the design argument for count-served canonicalization)."""
    span = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    old = [(100, f"{span} old owner oa ob oc od oe"),
           (101, "unrelated old text za zb zc zd ze zf zg zh zi")]
    new = [(1, f"h1 {span} h2"), (2, f"{span} k1 k2")]
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx, min_len=8)
    # before retraction: both new copies excised (old owns the span)
    before = {r["docno"]: r["clean_text"]
              for r in dinc.incremental_clean_keep_first(
                  _df(spark, new), idx, min_len=8).collect()}
    assert "r1" not in before[1] and "r1" not in before[2]
    # retract the owner; doc 1 (earliest new) becomes canonical
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_df(spark, [old[0]]))
    after = {r["docno"]: r["clean_text"]
             for r in dinc.incremental_clean_keep_first(
                 _df(spark, new), idx, min_len=8).collect()}
    assert "r1" in after[1] and "r1" not in after[2]
    survivors = [old[1]]
    assert after == {d: v[0] for d, v in
                     _scratch_keep_first(spark, survivors, new).items()}


# ---------------------------------------------------------------------------
# streaming: sequential equivalence + replay idempotence (ADVICE r8)
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_streaming_dedup_incremental_sequential_equivalence(
        spark, tmp_path):
    """The foreachBatch packaging: batch 2 must see batch 1 as part of
    the standing corpus (one snap partition folded per batch), and the
    final index must equal a from-scratch build over everything."""
    b_text = "brand new content " + " ".join(f"b{i}" for i in range(30))
    d_text = "another novel doc " + " ".join(f"d{i}" for i in range(30))
    old = [(10, WORDS), (11, "old only content " + WORDS[:60])]
    batch1 = [(20, WORDS), (21, b_text)]        # 20 = exact copy of old
    batch2 = [(30, b_text), (31, d_text)]       # 30 dups BATCH 1's doc

    root = str(tmp_path / "idx")
    statuses = str(tmp_path / "statuses")
    ckpt = str(tmp_path / "ckpt")
    incoming = str(tmp_path / "incoming")
    dinc.build_dedup_index(_df(spark, old), root)

    stream_schema = "docno long, text string"
    for batch in (batch1, batch2):
        _df(spark, batch).write.mode("append").parquet(incoming)
        stream = spark.readStream.schema(stream_schema).parquet(incoming)
        q = dinc.streaming_dedup_incremental(
            stream, root, statuses, checkpoint_dir=ckpt)
        q.awaitTermination()

    got = {r["docno"]: r["status"]
           for r in spark.read.parquet(statuses).collect()}
    assert got == {20: "dropped", 21: "kept",
                   30: "dropped", 31: "kept"}
    man = dinc._read_manifest(root)
    assert man["last_batch_id"] == 1 and len(man["snaps"]) == 3

    # folded index == from-scratch build over old + both batches
    scratch = str(tmp_path / "scratch")
    dinc.build_dedup_index(_df(spark, old + batch1 + batch2), scratch)
    a, b = _index_content(spark, root), _index_content(spark, scratch)
    for t in a:
        assert a[t] == b[t], t


@pytest.mark.slow
def test_streaming_fold_maintains_vector_side(spark, tmp_path):
    """emb_col: a stream carrying an embedding column folds vectors into
    the embeddings table per batch and maintains the trained ANN + PQ
    indexes at O(batch) — the final assignment/codes must equal the
    union corpus assigned to the persisted centroids / encoded against
    the persisted codebook, and a replayed batch must skip the vector
    fold too."""
    from hadoop_ir_spark.operators import similarity

    old_ids = list(range(0, 12))
    idx = str(tmp_path / "idx")
    statuses = str(tmp_path / "statuses")
    dinc.build_dedup_index(_docs_for(spark, old_ids), idx,
                           embeddings=_emb_df(spark, old_ids))
    dinc.train_ann_index(spark, idx, every=4)
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8)

    def _batch(ids):
        docs = {i: t for i, t in
                ((r["docno"], r["text"])
                 for r in _docs_for(spark, ids).collect())}
        vecs = {i: v for i, v in
                ((r["docno"], r["embedding"])
                 for r in _emb_df(spark, ids).collect())}
        return spark.createDataFrame(
            [(i, docs[i], vecs[i]) for i in ids],
            "docno long, text string, embedding array<double>")

    dinc._apply_dedup_batch(_batch([20, 21]), 0, idx, statuses,
                            emb_col="embedding")
    dinc._apply_dedup_batch(_batch([22, 23]), 1, idx, statuses,
                            emb_col="embedding")
    # a replay of batch 1 (crash after swap) must not double-fold vectors
    dinc._apply_dedup_batch(_batch([22, 23]), 1, idx, statuses,
                            emb_col="embedding")

    man = dinc._read_manifest(idx)
    live = dinc.load_dedup_index(spark, idx)
    all_ids = old_ids + [20, 21, 22, 23]
    assert {r["docno"] for r in live["embeddings"].collect()} \
        == set(all_ids)
    union_emb = _emb_df(spark, all_ids)
    cents = dinc._ann_centroid_frame(spark, idx, man)
    want_assign = sorted(map(tuple, similarity.assign_centroids(
        union_emb, cents, id_col="docno", vec_col="embedding")
        .select(F.col("vec_id").alias("docno"), "centroid_id").collect()))
    assert sorted(map(tuple, live["ann_assign"].collect())) == want_assign
    cb = dinc._pq_codebook_frame(spark, idx, man)
    want_codes = sorted(map(tuple, similarity.pq_encode(
        union_emb, cb, m=4, id_col="docno", vec_col="embedding", dims=8)
        .select(F.col("vec_id").alias("docno"), "s", "code").collect()))
    assert sorted(map(tuple, live["ann_codes"].collect())) == want_codes


def test_streaming_replay_idempotent(spark, tmp_path):
    """ADVICE r8 (medium): a crash between the manifest swap and the
    streaming checkpoint commit replays the batch against an index that
    already contains it — without the batch-id cursor every batch doc
    would self-match as an exact duplicate and the fold would double.
    The replay must reproduce identical statuses and leave the index
    untouched."""
    uniq = "wholly original content " + " ".join(f"z{i}" for i in range(25))
    old = [(10, WORDS)]
    batch = [(20, WORDS), (21, uniq)]
    idx = str(tmp_path / "idx")
    statuses = str(tmp_path / "statuses")
    dinc.build_dedup_index(_df(spark, old), idx)

    dinc._apply_dedup_batch(_df(spark, batch), 0, idx, statuses)
    man1 = dinc._read_manifest(idx)
    content1 = _index_content(spark, idx)
    st1 = {r["docno"]: r["status"]
           for r in spark.read.parquet(statuses).collect()}
    assert st1 == {20: "dropped", 21: "kept"}

    # the crash-after-swap replay: same batch, same batch_id
    dinc._apply_dedup_batch(_df(spark, batch), 0, idx, statuses)
    assert dinc._read_manifest(idx) == man1          # fold skipped
    assert _index_content(spark, idx) == content1
    st2 = {r["docno"]: r["status"]
           for r in spark.read.parquet(statuses).collect()}
    assert st2 == st1                                 # 21 did NOT self-match

    # progress still works after a replay...
    batch2 = [(30, uniq)]                             # dups batch 0's doc
    dinc._apply_dedup_batch(_df(spark, batch2), 1, idx, statuses)
    st3 = {r["docno"]: r["status"]
           for r in spark.read.parquet(statuses).collect()}
    assert st3 == {20: "dropped", 21: "kept", 30: "dropped"}
    # ...and a two-behind replay (checkpoint reset) fails loudly instead
    # of silently recomputing against the wrong view
    with pytest.raises(RuntimeError, match="already applied"):
        dinc._apply_dedup_batch(_df(spark, batch), 0, idx, statuses)


def test_simhash_incremental_equals_from_scratch(spark, tmp_path,
                                                 snapshots):
    """Banded (pigeonhole-exact) incremental SimHash == brute-force
    from-scratch Hamming rule on old ∪ new with (snapshot, docno)
    precedence."""
    from hadoop_ir_spark.operators import dedup, stats

    old, new = snapshots
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    got = {r["docno"]: r["status"] for r in dinc.simhash_incremental(
        _df(spark, new), idx, max_hamming=3).collect()}

    uni = _df(spark, old + new)
    fps = dedup.simhash_fingerprints(stats.postings(uni), portable=True)
    pairs = dedup.simhash_near_dups(fps, max_hamming=3,
                                    bands=None).collect()   # brute force
    prec = {d: (0, d) for d, _ in old} | {d: (1, d) for d, _ in new}
    dropped = set()
    for r in pairs:
        for x, y in ((r["docno_a"], r["docno_b"]),
                     (r["docno_b"], r["docno_a"])):
            if prec[y] < prec[x] and prec[x][0] == 1:
                dropped.add(x)
    want = {d: "dropped" if d in dropped else "kept" for d, _ in new}
    assert got == want
    assert got[9] == "dropped"     # exact copy of old -> Hamming 0


def _emb_rows():
    import numpy as np
    rng = np.random.default_rng(7)
    base = rng.normal(size=(12, 8))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # planted near-dups: 100 ~ old 2; 103 ~ new 101 (within-new)
    old = rows[:6]
    new = rows[6:]
    new += [(100, [x * 1.001 for x in old[2][1]]),
            (103, [x * 1.002 for x in new[1][1]])]
    return old, new


def test_embedding_incremental_equals_from_scratch(spark, tmp_path):
    """Index-served (VERDICT r8 #3) old-blocked GEMM incremental ==
    brute-force from-scratch cosine rule with (snapshot, id) precedence;
    no old-vs-old work is the design, identical decisions the contract."""
    from hadoop_ir_spark.operators import dedup

    old, new = _emb_rows()
    odf = spark.createDataFrame(old, "vec_id long, embedding array<double>")
    ndf = spark.createDataFrame(new, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(
        _df(spark, [(i, f"doc {i} text") for i, _ in old]), idx,
        embeddings=odf, emb_id_col="vec_id")
    tau = 0.9
    got = {r["vec_id"]: r["status"] for r in
           dinc.embedding_incremental(ndf, idx, tau=tau,
                                      n_blocks=3).collect()}

    pairs = dedup.embedding_near_dups(
        odf.unionByName(ndf), tau=tau, n_blocks=2).collect()
    prec = {i: (0, i) for i, _ in old} | {i: (1, i) for i, _ in new}
    dropped = set()
    for r in pairs:
        for x, y in ((r["id_a"], r["id_b"]), (r["id_b"], r["id_a"])):
            if prec[y] < prec[x] and prec[x][0] == 1:
                dropped.add(x)
    want = {i: "dropped" if i in dropped else "kept" for i, _ in new}
    assert got == want
    assert got[100] == "dropped" and got[103] == "dropped"


@pytest.mark.slow
def test_embedding_fold_and_retraction(spark, tmp_path):
    """Vectors ride the same fold-in and tombstones as the text tables
    (VERDICT r8 #3): fold new vectors in, retract one OLD vector, and
    the incremental decisions must match a from-scratch run over the
    surviving store."""
    old, new = _emb_rows()
    odf = spark.createDataFrame(old, "vec_id long, embedding array<double>")
    idx = str(tmp_path / "idx")
    docs = _df(spark, [(i, f"doc {i} body") for i, _ in old])
    dinc.build_dedup_index(docs, idx, embeddings=odf, emb_id_col="vec_id")
    # retract old vec 2 — the partner of planted near-dup 100
    dinc.update_dedup_index(
        spark, idx, removed_docs=_df(spark, [(2, "doc 2 body")]))
    live = sorted(r["docno"] for r in
                  dinc.load_dedup_index(spark, idx)["embeddings"].collect())
    assert live == [0, 1, 3, 4, 5]
    ndf = spark.createDataFrame(new, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["status"] for r in
           dinc.embedding_incremental(ndf, idx, tau=0.9,
                                      n_blocks=3).collect()}
    assert got[100] == "kept"       # its only partner was retracted
    assert got[103] == "dropped"    # within-new pair unaffected
    # fold the new vectors in; a re-probe of a folded vector now drops
    dinc.update_dedup_index(spark, idx, new_embeddings=ndf,
                            emb_id_col="vec_id")
    probe = spark.createDataFrame([(500, new[0][1])],
                                  "vec_id long, embedding array<double>")
    got2 = {r["vec_id"]: r["status"] for r in
            dinc.embedding_incremental(probe, idx, tau=0.99).collect()}
    assert got2 == {500: "dropped"}


@pytest.mark.slow
def test_update_index_with_removals_equals_rebuild(spark, tmp_path,
                                                   snapshots):
    """The retraction path: update(add batch, remove bad docs) must
    equal a from-scratch build over the resulting corpus — including
    seed-gram counts decrementing to deletion — and a re-add after
    removal must resurrect the doc's rows."""
    old, new = snapshots
    bad_ids = {10, 2}                       # retract two old docs
    removed = [(d, t) for d, t in old if d in bad_ids]
    survivors = [(d, t) for d, t in old if d not in bad_ids]

    idx = str(tmp_path / "idx")
    idx_scratch = str(tmp_path / "scratch")
    dinc.build_dedup_index(_df(spark, old), idx)
    dinc.update_dedup_index(spark, idx, _df(spark, new),
                            removed_docs=_df(spark, removed))
    dinc.build_dedup_index(_df(spark, survivors + new), idx_scratch)
    a, b = _index_content(spark, idx), _index_content(spark, idx_scratch)
    for t in a:
        assert a[t] == b[t], t

    # removal-only batch also works
    idx_rm = str(tmp_path / "rm")
    idx_rm_scratch = str(tmp_path / "rm_scratch")
    dinc.build_dedup_index(_df(spark, old), idx_rm)
    dinc.update_dedup_index(spark, idx_rm,
                            removed_docs=_df(spark, removed))
    dinc.build_dedup_index(_df(spark, survivors), idx_rm_scratch)
    a = _index_content(spark, idx_rm)
    b = _index_content(spark, idx_rm_scratch)
    for t in a:
        assert a[t] == b[t], t

    # re-add a removed doc: tombstone precedence is by snap id, so the
    # re-added rows are live again and content equals a fresh build
    dinc.update_dedup_index(spark, idx_rm, _df(spark, [removed[0]]))
    idx_re_scratch = str(tmp_path / "re_scratch")
    dinc.build_dedup_index(_df(spark, survivors + [removed[0]]),
                           idx_re_scratch)
    a = _index_content(spark, idx_rm)
    b = _index_content(spark, idx_re_scratch)
    for t in a:
        assert a[t] == b[t], t


def test_compaction_preserves_logical_content(spark, tmp_path, snapshots):
    """compact_dedup_index merges the snapshot log to one snap per table
    without changing what readers see, and queries keep answering."""
    old, new = snapshots
    removed = [old[0]]
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    dinc.update_dedup_index(spark, idx, _df(spark, new),
                            removed_docs=_df(spark, removed))
    before = _index_content(spark, idx)
    dinc.compact_dedup_index(spark, idx)
    man = dinc._read_manifest(idx)
    assert len(man["snaps"]) == 1
    after = _index_content(spark, idx)
    for t in before:
        assert before[t] == after[t], t
    # the compacted snap itself carries no tombstones (all folded in);
    # superseded dirs linger until vacuum reclaims them
    import os
    assert not os.path.isdir(os.path.join(idx, "tombstones",
                                          f"snap={man['snaps'][0]}"))
    assert dinc.vacuum_dedup_index(idx)      # something was reclaimed
    assert _index_content(spark, idx) == after
    # post-compaction query: a copy of a folded doc still drops
    probe = _df(spark, [(900, new[0][1])])
    got = {r["docno"]: r["status"]
           for r in dinc.dedup_incremental(probe, idx).collect()}
    assert got == {900: "dropped"}


@pytest.mark.slow
def test_compaction_keep_last_snap(spark, tmp_path, snapshots):
    """keep_last_snap=True merges every snap EXCEPT the newest (with all
    tombstones applied to the merged part), so the pre-fold view a
    streaming replay needs survives — logical content identical, last
    snap dir intact, tombstones gone."""
    import os

    old, new = snapshots
    removed = [old[0]]
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    dinc.update_dedup_index(spark, idx, removed_docs=_df(spark, removed))
    dinc.update_dedup_index(spark, idx, _df(spark, new), batch_id=7)
    before = _index_content(spark, idx)
    last = dinc._read_manifest(idx)["last_snap"]
    pre_fold_before = {
        t: sorted(map(tuple, df.collect()))
        for t, df in dinc.load_dedup_index(
            spark, idx, snaps=[s for s in dinc._read_manifest(idx)["snaps"]
                               if s != last]).items()}

    dinc.compact_dedup_index(spark, idx, keep_last_snap=True)
    man = dinc._read_manifest(idx)
    assert man["last_snap"] == last and last in man["snaps"]
    assert len(man["snaps"]) == 2 and man["last_batch_id"] == 7
    after = _index_content(spark, idx)
    for t in before:
        assert before[t] == after[t], t
    # the replay-critical pre-fold view is byte-identical too
    pre_fold_after = {
        t: sorted(map(tuple, df.collect()))
        for t, df in dinc.load_dedup_index(
            spark, idx, snaps=[s for s in man["snaps"]
                               if s != last]).items()}
    for t in pre_fold_before:
        assert pre_fold_before[t] == pre_fold_after[t], t
    # superseded dirs stay on disk (a reader with a lazy pre-swap plan
    # must keep resolving) until vacuum, which deletes exactly the
    # unreferenced ones and changes nothing logical
    merged_tomb = os.path.join(idx, "tombstones", "snap=1")
    assert os.path.isdir(merged_tomb)
    deleted = dinc.vacuum_dedup_index(idx)
    assert merged_tomb in deleted and not os.path.isdir(merged_tomb)
    assert _index_content(spark, idx) == after
    # an already-compact log (one prefix snap, no tombstones): no-op
    man_before = dinc._read_manifest(idx)
    dinc.compact_dedup_index(spark, idx, keep_last_snap=True)
    assert dinc._read_manifest(idx) == man_before
    assert _index_content(spark, idx) == after


@pytest.mark.slow
def test_streaming_auto_compaction(spark, tmp_path):
    """compact_every keeps the log bounded under streaming without
    breaking replay: after each compacting fold the index still equals
    a from-scratch build, and a replay of the just-folded batch (the
    crash-after-swap window landing AFTER the compaction) still
    recomputes identical statuses and skips the fold."""
    texts = ["batch doc %d " % i + " ".join(f"t{i}w{j}" for j in range(25))
             for i in range(6)]
    old = [(1, WORDS)]
    batches = [[(10, texts[0]), (11, texts[1])],
               [(20, texts[2]), (21, WORDS)],        # 21 dups OLD
               [(30, texts[0]), (31, texts[4])]]     # 30 dups batch 0's doc
    idx = str(tmp_path / "idx")
    statuses = str(tmp_path / "statuses")
    dinc.build_dedup_index(_df(spark, old), idx)
    for bid, batch in enumerate(batches):
        dinc._apply_dedup_batch(_df(spark, batch), bid, idx, statuses,
                                compact_every=2)
    man = dinc._read_manifest(idx)
    assert len(man["snaps"]) <= 2, "auto-compaction did not bound the log"
    got = {r["docno"]: r["status"]
           for r in spark.read.parquet(statuses).collect()}
    assert got == {10: "kept", 11: "kept", 20: "kept", 21: "dropped",
                   30: "dropped", 31: "kept"}
    scratch = str(tmp_path / "scratch")
    dinc.build_dedup_index(
        _df(spark, old + [r for b in batches for r in b]), scratch)
    a, b = _index_content(spark, idx), _index_content(spark, scratch)
    for t in a:
        assert a[t] == b[t], t
    # replay of the last (compacting) batch: statuses identical, no refold
    dinc._apply_dedup_batch(_df(spark, batches[-1]), 2, idx, statuses,
                            compact_every=2)
    assert dinc._read_manifest(idx) == man
    got2 = {r["docno"]: r["status"]
            for r in spark.read.parquet(statuses).collect()}
    assert got2 == got


def test_fold_in_reads_no_standing_table(spark, tmp_path, snapshots,
                                         monkeypatch):
    """The O(snapshot) claim, pinned structurally: update_dedup_index
    must not READ any standing table at all — the only parquet reads
    during a fold are the caller's own inputs (here: none, the batch is
    an in-memory frame). A regression back to union-and-rewrite would
    show up as a read under the index dir."""
    import pyspark.sql.readwriter as rw

    old, new = snapshots
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)

    read_paths = []
    orig = rw.DataFrameReader.parquet

    def spying(self, *paths, **kw):
        read_paths.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spying)
    dinc.update_dedup_index(spark, idx, _df(spark, new),
                            removed_docs=_df(spark, [old[0]]))
    inside = [p for p in read_paths if str(p).startswith(idx)]
    assert not inside, (
        f"fold-in read standing tables: {inside} — the O(snapshot) "
        f"property regressed to union-and-rewrite")


def test_trained_fold_reads_only_artifacts(spark, tmp_path, monkeypatch):
    """The O(snapshot) claim for the VECTOR side, pinned structurally:
    a fold into a store carrying trained IVF + PQ indexes may read the
    trained ARTIFACT dirs (ann_centroids / ann_codebook — broadcast-
    sized by construction) but must never read the standing per-doc
    tables (ann_assign, ann_codes, embeddings, or any fingerprint
    table). A regression back to re-assign/re-encode-the-corpus would
    show up as a read outside the two artifact snap dirs."""
    import os

    import pyspark.sql.readwriter as rw

    ids = list(range(0, 12))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    dinc.train_ann_index(spark, idx, every=4)
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8)
    man = dinc._read_manifest(idx)
    allowed = {
        os.path.join(idx, dinc.ANN_CENTROIDS,
                     f"snap={man['ann']['centroid_snap']}"),
        os.path.join(idx, dinc.ANN_CODEBOOK,
                     f"snap={man['pq']['codebook_snap']}"),
    }

    read_paths = []
    orig = rw.DataFrameReader.parquet

    def spying(self, *paths, **kw):
        read_paths.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spying)
    dinc.update_dedup_index(spark, idx, _docs_for(spark, [20, 21]),
                            new_embeddings=_emb_df(spark, [20, 21]))
    inside = [p for p in read_paths
              if str(p).startswith(idx) and str(p) not in allowed]
    assert not inside, (
        f"trained fold read standing tables: {inside} — the vector "
        f"side's O(snapshot) property regressed")


def test_replace_doc_in_one_update(spark, tmp_path):
    """A docno in BOTH removed_docs and new_docs is a REPLACE: the
    tombstone kills the doc's strictly-older rows, the same-snapshot
    new rows survive, and the result equals a rebuild over the
    replaced corpus — including across keep-last compaction (the r9
    review's resurrection scenario)."""
    old_text = WORDS
    new_text = "replacement body " + " ".join(f"rp{i}" for i in range(30))
    others = [(11, "some other standing doc " + WORDS[:50])]
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, [(10, old_text)] + others), idx)
    dinc.update_dedup_index(spark, idx, _df(spark, [(10, new_text)]),
                            removed_docs=_df(spark, [(10, old_text)]))
    scratch = str(tmp_path / "scratch")
    dinc.build_dedup_index(_df(spark, [(10, new_text)] + others), scratch)
    a, b = _index_content(spark, idx), _index_content(spark, scratch)
    for t in a:
        assert a[t] == b[t], t
    # the old content no longer matches; the new content does
    got = {r["docno"]: r["status"] for r in dinc.dedup_incremental(
        _df(spark, [(100, old_text), (101, new_text)]), idx).collect()}
    assert got == {100: "kept", 101: "dropped"}
    # ...and compaction (keep-last) does not resurrect the old rows
    dinc.compact_dedup_index(spark, idx, keep_last_snap=True)
    a = _index_content(spark, idx)
    for t in b:
        assert a[t] == b[t], t


@pytest.mark.slow
def test_compaction_keep_last_after_manual_window(spark, tmp_path):
    """The VERDICT r9 #1 resurrection repro: build → batch fold →
    MANUAL retraction of a batch doc → MANUAL add →
    compact_dedup_index(keep_last_snap=True). The kept set used to be
    {newest, last_batch_snap} = {3, 1}, NOT a suffix — the snap-2
    tombstone (which killed the snap-1 doc) fell into the merged
    prefix, was applied only to merged rows, and then vanished from
    visibility while the kept snap-1 rows stayed verbatim: the
    retracted doc resurrected and the row tables went inconsistent
    with the count-delta logs. The fix keeps the contiguous suffix
    starting at last_batch_snap, so compaction must now preserve
    logical content exactly and equal a from-scratch rebuild."""
    t1 = WORDS
    t5 = "early manual add " + " ".join(f"em{i}" for i in range(30))
    t10 = "retractable body " + " ".join(f"rb{i}" for i in range(30))
    t20 = "batch doc body " + " ".join(f"bb{i}" for i in range(30))
    t30 = "late manual add " + " ".join(f"ma{i}" for i in range(30))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, [(1, t1)]), idx)              # snap 0
    dinc.update_dedup_index(spark, idx, _df(spark, [(5, t5)]))      # snap 1
    dinc.update_dedup_index(spark, idx,
                            _df(spark, [(10, t10), (20, t20)]),
                            batch_id=0)                             # snap 2
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_df(spark, [(10, t10)]))   # snap 3
    dinc.update_dedup_index(spark, idx, _df(spark, [(30, t30)]))    # snap 4
    before = _index_content(spark, idx)
    dinc.compact_dedup_index(spark, idx, keep_last_snap=True)
    man = dinc._read_manifest(idx)
    # kept is the contiguous suffix from last_batch_snap: [2, 3, 4];
    # [0, 1] merged into the new snap 5. The old code kept {2, 4} and
    # merged [0, 1, 3] — dropping the snap-3 tombstone that killed the
    # kept snap-2 doc.
    assert man["snaps"] == [5, 2, 3, 4] and man["last_batch_snap"] == 2
    after = _index_content(spark, idx)
    for t in before:
        assert before[t] == after[t], t
    scratch = str(tmp_path / "scratch")
    dinc.build_dedup_index(
        _df(spark, [(1, t1), (5, t5), (20, t20), (30, t30)]), scratch)
    b = _index_content(spark, scratch)
    for t in b:
        assert after[t] == b[t], t
    # the retracted doc stays dead: a copy of its text is NOT a dup
    got = {r["docno"]: r["status"] for r in dinc.dedup_incremental(
        _df(spark, [(100, t10), (101, t20)]), idx).collect()}
    assert got == {100: "kept", 101: "dropped"}
    # ...and survives vacuum (the bug became permanent after vacuum)
    dinc.vacuum_dedup_index(idx)
    assert _index_content(spark, idx) == after


def test_crashed_attempt_leftovers_cleared(spark, tmp_path, snapshots):
    """A crashed fold that wrote SOME tables at next_snap must not leak
    them into visibility when the next update writes a DIFFERENT table
    subset at the same id (r9 review finding)."""
    old, new = snapshots
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    sid = dinc._read_manifest(idx)["next_snap"]
    # simulate: an add-batch crashed after writing only content_hashes
    ghost = _df(spark, [(999, "ghost half indexed doc")]) \
        .select("docno", F.md5("text").alias("content_hash"))
    dinc._write_snap_table(ghost, idx, "content_hashes", sid)
    # a removal-only update reuses the id and swaps the manifest
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_df(spark, [old[0]]))
    live = {r["docno"] for r in dinc.load_dedup_index(
        spark, idx)["content_hashes"].collect()}
    assert 999 not in live, "crashed-attempt ghost rows became visible"
    survivors = [d for d in old if d[0] != old[0][0]]
    scratch = str(tmp_path / "scratch")
    dinc.build_dedup_index(_df(spark, survivors), scratch)
    a, b = _index_content(spark, idx), _index_content(spark, scratch)
    for t in a:
        assert a[t] == b[t], t


def test_replay_with_manual_update_in_crash_window(spark, tmp_path):
    """The replay cursor names the BATCH's snap, not merely the newest
    one: a manual (non-batch) update landing between the fold's
    manifest swap and the checkpoint commit must neither self-match the
    batch nor disappear from the replay's view (r9 review finding)."""
    uniq = "one of a kind " + " ".join(f"q{i}" for i in range(25))
    old = [(10, WORDS), (11, "standing other " + WORDS[:60])]
    batch = [(20, WORDS), (21, uniq)]
    idx = str(tmp_path / "idx")
    statuses = str(tmp_path / "statuses")
    dinc.build_dedup_index(_df(spark, old), idx)
    dinc._apply_dedup_batch(_df(spark, batch), 0, idx, statuses)
    # crash window: operator retracts doc 10 manually (no batch_id)
    dinc.update_dedup_index(spark, idx, removed_docs=_df(spark, [old[0]]))
    # replay of batch 0: statuses recomputed against (old - 10), fold
    # skipped; 20's partner was just retracted, so it is now kept —
    # and crucially 21 did not self-match
    dinc._apply_dedup_batch(_df(spark, batch), 0, idx, statuses)
    got = {r["docno"]: r["status"]
           for r in spark.read.parquet(statuses).collect()}
    assert got == {20: "kept", 21: "kept"}
    man = dinc._read_manifest(idx)
    assert len(man["snaps"]) == 3          # fold NOT re-applied


def test_incremental_winnow_pairs_equals_scratch(spark, tmp_path):
    """The winnowing member (r9): incremental pairs == from-scratch
    span_dup_pairs over old ∪ new restricted to pairs involving >= 1
    new doc, at matching (k, w, max_df, min_shared) — including the
    union-df cap path and retraction."""
    from hadoop_ir_spark.operators.winnow import (
        span_dup_pairs,
        winnow_fingerprints,
    )

    span = " ".join(f"wsp{i}" for i in range(12))     # > w+k-1 tokens
    old = [(100, f"{span} old tail oa ob oc od oe of og oh")]
    new = [(1, f"n1 n2 {span} n3 n4"),
           (2, f"{span} m1 m2 m3"),
           (3, "u1 u2 u3 u4 u5 u6 u7 nothing shared u8 u9 u10")]
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)

    def scratch(docs, max_df, min_shared, new_ids):
        fps = winnow_fingerprints(_df(spark, docs), k=5, w=4)
        return {tuple(r) for r in span_dup_pairs(
            fps, max_df=max_df, min_shared=min_shared).collect()
            if r["doc_a"] in new_ids or r["doc_b"] in new_ids}

    new_ids = {d for d, _ in new}
    got = {tuple(r) for r in dinc.incremental_winnow_pairs(
        _df(spark, new), idx, max_df=50, min_shared=1).collect()}
    want = scratch(old + new, 50, 1, new_ids)
    assert got == want and got
    assert {frozenset(p[:2]) for p in got} == {
        frozenset({100, 1}), frozenset({100, 2}), frozenset({1, 2})}

    # union-df cap: at max_df=2 the span's fps (df=3 across old ∪ new)
    # are boilerplate — from-scratch agrees
    got_cap = {tuple(r) for r in dinc.incremental_winnow_pairs(
        _df(spark, new), idx, max_df=2, min_shared=1).collect()}
    assert got_cap == scratch(old + new, 2, 1, new_ids) == set()

    # retraction: removing the old owner drops its pairs AND its df
    # contribution (the span's fps fall back to df=2 across the union)
    dinc.update_dedup_index(spark, idx, removed_docs=_df(spark, [old[0]]))
    got_rm = {tuple(r) for r in dinc.incremental_winnow_pairs(
        _df(spark, new), idx, max_df=2, min_shared=1).collect()}
    assert got_rm == scratch(new, 2, 1, new_ids)
    assert {frozenset(p[:2]) for p in got_rm} == {frozenset({1, 2})}


def test_mass_retraction_shuffle_path(spark, tmp_path, snapshots,
                                      monkeypatch):
    """VERDICT r9 #6: the tombstone anti-filter broadcasts only while
    the tombstone side is takedown-sized. With the threshold forced to
    0 (simulating a snapshot-sized removal batch) the join must take
    the shuffle path — no broadcast exchange on the tombstone frame —
    and the logical content must still equal a from-scratch rebuild."""
    old, new = snapshots
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    dinc.update_dedup_index(spark, idx, _df(spark, new),
                            removed_docs=_df(spark, old[:2]))
    scratch = str(tmp_path / "scratch")
    dinc.build_dedup_index(_df(spark, old[2:] + new), scratch)
    b = _index_content(spark, scratch)

    def analyzed(df):
        # the FORCED hint lives in the logical plan; the physical plan
        # may still auto-broadcast a byte-tiny side, which is fine —
        # the guard's job is to stop forcing it at mass-retraction size
        return df._jdf.queryExecution().analyzed().toString()

    monkeypatch.setattr(dinc, "TOMBSTONE_BROADCAST_MAX", 0)
    rows = dinc._live_rows(spark, idx, "content_hashes")
    assert "ResolvedHint" not in analyzed(rows), \
        "tombstone side still hint-broadcast above the threshold"
    a = _index_content(spark, idx)
    for t in b:
        assert a[t] == b[t], t
    # and back under the threshold the takedown-sized broadcast returns
    monkeypatch.setattr(dinc, "TOMBSTONE_BROADCAST_MAX", 1_000_000)
    rows = dinc._live_rows(spark, idx, "content_hashes")
    assert "ResolvedHint" in analyzed(rows)


@pytest.mark.slow
def test_concurrent_writers_serialize_or_raise(spark, tmp_path, snapshots,
                                               monkeypatch):
    """VERDICT r9 missing #1: two concurrent update_dedup_index calls
    used to both read next_snap = N, destroy each other's in-flight
    dirs via _clear_snap_dirs, and the second manifest write silently
    dropped the first fold's snap. With staged attempt dirs + the
    manifest CAS, the interleaved loser must raise ConcurrentWriteError,
    the winner's snapshot must survive, and a retry of the loser must
    land cleanly."""
    old, new = snapshots
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    other = [(50, "writer b content " + " ".join(f"wb{i}"
                                                 for i in range(25)))]
    fired = {"done": False}
    orig_write = dinc._SnapAttempt.write

    def interleaved(self, df, table):
        if not fired["done"]:
            fired["done"] = True
            # writer B runs a COMPLETE update while A is mid-stage
            dinc.update_dedup_index(spark, idx, _df(spark, other))
        return orig_write(self, df, table)

    monkeypatch.setattr(dinc._SnapAttempt, "write", interleaved)
    with pytest.raises(dinc.ConcurrentWriteError, match="concurrent"):
        dinc.update_dedup_index(spark, idx, _df(spark, new))
    monkeypatch.setattr(dinc._SnapAttempt, "write", orig_write)

    # writer B's snapshot was NOT lost, and A's aborted attempt left no
    # staged dirs behind
    man = dinc._read_manifest(idx)
    assert man["snaps"] == [0, 1] and man["next_snap"] == 2
    import os
    leftovers = [os.path.join(t, e)
                 for t in os.listdir(idx)
                 if os.path.isdir(os.path.join(idx, t))
                 for e in os.listdir(os.path.join(idx, t))
                 if ".tmp-" in e]
    assert not leftovers, leftovers
    scratch = str(tmp_path / "scratch_b")
    dinc.build_dedup_index(_df(spark, old + other), scratch)
    a, b = _index_content(spark, idx), _index_content(spark, scratch)
    for t in b:
        assert a[t] == b[t], t
    # the loser retried against the new manifest lands cleanly
    dinc.update_dedup_index(spark, idx, _df(spark, new))
    scratch2 = str(tmp_path / "scratch_ab")
    dinc.build_dedup_index(_df(spark, old + other + new), scratch2)
    a, b = _index_content(spark, idx), _index_content(spark, scratch2)
    for t in b:
        assert a[t] == b[t], t


def test_trainer_racing_a_fold_loses_cleanly(spark, tmp_path, monkeypatch):
    """The trained-artifact writers (train_pq_index here; train_ann_index
    and build_cc_labels share the same _SnapAttempt.commit CAS) must lose
    to a concurrent fold the same way updates do: abort staged dirs,
    raise ConcurrentWriteError, and a retry against the new manifest
    lands a store identical to the unraced ordering."""
    ids = list(range(0, 12))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    other = [(50, "writer b content " + " ".join(f"wb{i}"
                                                 for i in range(25)))]
    fired = {"done": False}
    orig_write = dinc._SnapAttempt.write

    def interleaved(self, df, table):
        if not fired["done"]:
            fired["done"] = True
            dinc.update_dedup_index(spark, idx, _df(spark, other))
        return orig_write(self, df, table)

    monkeypatch.setattr(dinc._SnapAttempt, "write", interleaved)
    with pytest.raises(dinc.ConcurrentWriteError, match="concurrent"):
        dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8)
    monkeypatch.setattr(dinc._SnapAttempt, "write", orig_write)

    import os
    leftovers = [e for t in os.listdir(idx)
                 if os.path.isdir(os.path.join(idx, t))
                 for e in os.listdir(os.path.join(idx, t))
                 if ".tmp-" in e]
    assert not leftovers, leftovers
    man = dinc._read_manifest(idx)
    assert "pq" not in man and man["snaps"] == [0, 1]
    # the retry trains over the post-fold live corpus and serves queries
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8)
    man = dinc._read_manifest(idx)
    assert man["pq"]["codebook_snap"] == 2
    live = dinc.load_dedup_index(spark, idx)
    assert {r["docno"] for r in live["ann_codes"].collect()} == set(ids)


def test_manifest_lock_steal_and_mutual_exclusion(tmp_path):
    """The manifest lock steals a DEAD holder's lock, never steals a
    LIVE holder's, and stays mutually exclusive under thread contention
    with a planted stale lock. The steal is serialized behind a
    flock()-based steal-mutex with an inode+content re-verification
    before unlink — two earlier protocols (bare unlink; rename+restore)
    BOTH double-admitted under this 8-thread stress, because the
    staleness decision is made against the old file while unlink/rename
    act on whatever sits at the path by then. The mutex file itself is
    persistent (never unlinked): the kernel releases a dead holder's
    flock, so there is no crashed-stealer reclamation path left to race
    (ADVICE r10 low)."""
    import os
    import threading
    import time

    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    path = os.path.join(idx, dinc.LOCK_FILE)

    # a dead holder's lock (bogus pid) is stolen and the writer proceeds
    with open(path, "w") as f:
        f.write("999999999")
    os.utime(path, (1, 1))
    with dinc._manifest_lock(idx, timeout_s=5):
        assert os.path.exists(path)     # we hold our own fresh lock
    assert not os.path.exists(path)

    # a LIVE holder's lock is never stolen — the waiter times out
    with open(path, "w") as f:
        f.write(str(os.getpid()))
    os.utime(path, (1, 1))
    with pytest.raises(dinc.ConcurrentWriteError, match="timed out"):
        with dinc._manifest_lock(idx, timeout_s=0.3, poll_s=0.05):
            pass
    os.unlink(path)

    # contention stress: plant a stale lock, race 8 threads through the
    # lock around a shared critical-section flag — never two inside
    with open(path, "w") as f:
        f.write("999999998")
    os.utime(path, (1, 1))
    inside, peak, errs = [0], [0], []

    def worker():
        try:
            for _ in range(5):
                with dinc._manifest_lock(idx, timeout_s=30):
                    inside[0] += 1
                    peak[0] = max(peak[0], inside[0])
                    time.sleep(0.002)
                    inside[0] -= 1
        except Exception as e:          # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs and peak[0] == 1
    # the persistent flock mutex file is the ONLY thing left behind —
    # and nothing holds it once the stress is over
    debris = [e for e in os.listdir(idx) if ".steal-" in e]
    assert debris in ([], [dinc.LOCK_FILE + ".steal-mutex"])
    if debris:
        import fcntl
        fd = os.open(os.path.join(idx, debris[0]), os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)  # acquirable
            fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)


def test_vacuum_spares_inflight_and_respects_retention(spark, tmp_path,
                                                       snapshots):
    """ADVICE r9: vacuum must not delete an in-flight writer's staging
    dirs (tmp_grace_s) and gains a reader-retention window (min_age_s,
    VERDICT r9 optional). It also runs under the manifest lock so it
    can never race a commit."""
    import os

    old, new = snapshots
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    dinc.update_dedup_index(spark, idx, _df(spark, new))
    # an in-flight attempt mid-stage (never committed)
    att = dinc._SnapAttempt(idx, 2)
    att.write(_df(spark, [(99, "inflight")]).select(
        "docno", F.md5("text").alias("content_hash")), "content_hashes")
    tmp_dir = att._tmp("content_hashes")
    assert os.path.isdir(tmp_dir)

    dinc.compact_dedup_index(spark, idx)
    # retention window: nothing young enough to reclaim
    assert dinc.vacuum_dedup_index(idx, min_age_s=3600) == []
    # default: superseded dirs go, the fresh in-flight tmp dir survives
    deleted = dinc.vacuum_dedup_index(idx)
    assert deleted and os.path.isdir(tmp_dir)
    assert all(".tmp-" not in p for p in deleted)
    # past the grace window the crashed attempt is reclaimed
    deleted2 = dinc.vacuum_dedup_index(idx, tmp_grace_s=-1)
    assert tmp_dir in deleted2 and not os.path.isdir(tmp_dir)
    # content untouched throughout
    scratch = str(tmp_path / "scratch")
    dinc.build_dedup_index(_df(spark, old + new), scratch)
    a, b = _index_content(spark, idx), _index_content(spark, scratch)
    for t in b:
        assert a[t] == b[t], t


# ---------------------------------------------------------------------------
# persisted + incremental ANN index (VERDICT r9 missing #2)
# ---------------------------------------------------------------------------

def _vec(i, dim=8):
    # deterministic, well-spread unit-ish vectors
    return [float((i * 31 + d * 17) % 23 - 11) / 11.0 + 0.01 * d
            for d in range(dim)]


def _emb_df(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids], "docno long, embedding array<double>")


def _docs_for(spark, ids):
    return _df(spark, [(i, f"doc {i} body " + " ".join(
        f"t{i}w{j}" for j in range(12))) for i in ids])


def test_ann_index_fold_equals_rebuild(spark, tmp_path):
    """train_ann_index persists centroids + assignment; folding new
    vectors must equal assigning the UNION corpus to the SAME persisted
    centroids (the O(snapshot) claim's correctness half), and
    indexed_ann_topk must equal similarity.ivf_topk over the union with
    those centroids."""
    from hadoop_ir_spark.operators import similarity

    old_ids = list(range(0, 20))
    new_ids = list(range(20, 30))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, old_ids), idx,
                           embeddings=_emb_df(spark, old_ids))
    dinc.train_ann_index(spark, idx, every=4)
    man = dinc._read_manifest(idx)
    assert man["ann"]["centroid_snap"] == 1 \
        and man["ann"]["assign_snaps"] == [1]

    dinc.update_dedup_index(spark, idx, _docs_for(spark, new_ids),
                            new_embeddings=_emb_df(spark, new_ids))
    man = dinc._read_manifest(idx)
    assert man["ann"]["assign_snaps"] == [1, 2]

    cents = dinc._ann_centroid_frame(spark, idx, man)
    union_emb = _emb_df(spark, old_ids + new_ids)
    want_assign = sorted(map(tuple, similarity.assign_centroids(
        union_emb, cents, id_col="docno", vec_col="embedding")
        .select(F.col("vec_id").alias("docno"), "centroid_id").collect()))
    got_assign = sorted(map(tuple, dinc.load_dedup_index(
        spark, idx)["ann_assign"].collect()))
    assert got_assign == want_assign

    queries = spark.createDataFrame(
        [(100, _vec(3)), (101, _vec(27))], "qid long, embedding array<double>")
    got = sorted(map(tuple, dinc.indexed_ann_topk(
        queries, idx, k=5, nprobe=2).collect()))
    want = sorted(map(tuple, similarity.ivf_topk(
        union_emb, queries, cents, k=5, nprobe=2, id_col="docno",
        use_blas=False)
        .select("qid", F.col("vec_id").alias("docno"), "cosine", "rank")
        .collect()))
    assert got == want and len(got) == 10


def test_ann_index_retraction_and_compaction(spark, tmp_path):
    """A tombstone retracts a doc's assignment row (shared-tombstone
    claim); compaction carries the ANN tables and the manifest ann block
    through the merge; retrain=True replaces the trained artifact."""
    from hadoop_ir_spark.operators import similarity

    ids = list(range(0, 16))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    dinc.train_ann_index(spark, idx, every=4)
    # retract doc 3 (kept assigned docs must lose exactly that row)
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_docs_for(spark, [3]))
    live = dinc.load_dedup_index(spark, idx)
    assert 3 not in {r["docno"] for r in live["ann_assign"].collect()}
    queries = spark.createDataFrame(
        [(100, _vec(3))], "qid long, embedding array<double>")
    got = {r["docno"] for r in dinc.indexed_ann_topk(
        queries, idx, k=30, nprobe=10).collect()}
    assert 3 not in got and got   # full probe, retracted doc excluded

    before = {t: sorted(map(tuple, df.collect()))
              for t, df in dinc.load_dedup_index(spark, idx).items()}
    dinc.compact_dedup_index(spark, idx)
    man = dinc._read_manifest(idx)
    assert man["ann"]["centroid_snap"] == man["snaps"][0]
    assert man["ann"]["assign_snaps"] == [man["snaps"][0]]
    after = {t: sorted(map(tuple, df.collect()))
             for t, df in dinc.load_dedup_index(spark, idx).items()}
    assert set(before) == set(after)
    for t in before:
        assert before[t] == after[t], t

    # double-train guards; retrain replaces the block
    with pytest.raises(ValueError, match="already has a trained"):
        dinc.train_ann_index(spark, idx, every=4)
    dinc.train_ann_index(spark, idx, every=2, retrain=True)
    man2 = dinc._read_manifest(idx)
    sid = man2["snaps"][-1]
    assert man2["ann"] == {"every": 2, "max_k": None,
                           "method": "id_sample", "generation": 1,
                           "centroid_snap": sid, "assign_snaps": [sid]}
    # retrained assignment covers exactly the live docs, to new centroids
    live2 = dinc.load_dedup_index(spark, idx)
    assert {r["docno"] for r in live2["ann_assign"].collect()} \
        == set(ids) - {3}
    assert {r["centroid_id"] for r in live2["ann_centroids"].collect()} \
        == {i for i in ids if i % 2 == 0 and i != 3} - {3}


def test_pq_index_fold_equals_rebuild(spark, tmp_path):
    """train_pq_index persists the sub-codebooks + per-doc codes;
    folding new vectors must equal encoding the UNION corpus against
    the SAME persisted codebook (the O(snapshot) claim's correctness
    half), and indexed_pq_topk must equal similarity.pq_topk over the
    union with that codebook."""
    from hadoop_ir_spark.operators import similarity

    old_ids = list(range(0, 20))
    new_ids = list(range(20, 30))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, old_ids), idx,
                           embeddings=_emb_df(spark, old_ids))
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8)
    man = dinc._read_manifest(idx)
    assert man["pq"]["codebook_snap"] == 1 \
        and man["pq"]["code_snaps"] == [1]

    dinc.update_dedup_index(spark, idx, _docs_for(spark, new_ids),
                            new_embeddings=_emb_df(spark, new_ids))
    man = dinc._read_manifest(idx)
    assert man["pq"]["code_snaps"] == [1, 2]

    cb = dinc._pq_codebook_frame(spark, idx, man)
    union_emb = _emb_df(spark, old_ids + new_ids)
    want_codes = sorted(map(tuple, similarity.pq_encode(
        union_emb, cb, m=4, id_col="docno", vec_col="embedding", dims=8)
        .select(F.col("vec_id").alias("docno"), "s", "code").collect()))
    got_codes = sorted(map(tuple, dinc.load_dedup_index(
        spark, idx)["ann_codes"].collect()))
    assert got_codes == want_codes

    queries = spark.createDataFrame(
        [(100, _vec(3)), (101, _vec(27))], "qid long, embedding array<double>")
    got = sorted(map(tuple, dinc.indexed_pq_topk(
        queries, idx, k=5).collect()))
    lut = similarity.pq_lut(queries, cb, m=4, dims=8)
    want = sorted(map(tuple, similarity.pq_topk(
        similarity.pq_encode(union_emb, cb, m=4, id_col="docno",
                             vec_col="embedding", dims=8), lut, k=5)
        .select("qid", F.col("vec_id").alias("docno"), "approx_d2", "rank")
        .collect()))
    assert got == want and len(got) == 10


@pytest.mark.slow
def test_pq_index_retraction_and_compaction(spark, tmp_path):
    """A tombstone retracts a doc's code rows (shared-tombstone claim);
    compaction carries the PQ tables and the manifest pq block through
    the merge; retrain=True replaces the trained artifact."""
    ids = list(range(0, 16))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8)
    # retract doc 3 (kept encoded docs must lose exactly those rows)
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_docs_for(spark, [3]))
    live = dinc.load_dedup_index(spark, idx)
    assert 3 not in {r["docno"] for r in live["ann_codes"].collect()}
    queries = spark.createDataFrame(
        [(100, _vec(3))], "qid long, embedding array<double>")
    got = {r["docno"] for r in dinc.indexed_pq_topk(
        queries, idx, k=30).collect()}
    assert 3 not in got and got   # full scan, retracted doc excluded

    before = {t: sorted(map(tuple, df.collect()))
              for t, df in dinc.load_dedup_index(spark, idx).items()}
    dinc.compact_dedup_index(spark, idx)
    man = dinc._read_manifest(idx)
    assert man["pq"]["codebook_snap"] == man["snaps"][0]
    assert man["pq"]["code_snaps"] == [man["snaps"][0]]
    after = {t: sorted(map(tuple, df.collect()))
             for t, df in dinc.load_dedup_index(spark, idx).items()}
    assert set(before) == set(after)
    for t in before:
        assert before[t] == after[t], t

    # double-train guards; retrain replaces the block
    with pytest.raises(ValueError, match="already has a trained"):
        dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8)
    dinc.train_pq_index(spark, idx, m=2, kk=3, train_every=2, dims=8,
                        retrain=True)
    man2 = dinc._read_manifest(idx)
    sid = man2["snaps"][-1]
    assert man2["pq"] == {"m": 2, "kk": 3, "train_every": 2, "dims": 8,
                          "residual": False, "method": "deterministic",
                          "codebook_snap": sid, "code_snaps": [sid]}
    # retrained codes cover exactly the live docs, 2 subspaces each
    live2 = dinc.load_dedup_index(spark, idx)
    codes2 = live2["ann_codes"].collect()
    assert {r["docno"] for r in codes2} == set(ids) - {3}
    assert {r["s"] for r in codes2} == {0, 1}


# ---------------------------------------------------------------------------
# incremental duplicate-cluster maintenance (VERDICT r9 missing #3)
# ---------------------------------------------------------------------------

E_BASE = " ".join(f"ez{i} qr{i}" for i in range(20))        # 40 tokens


def _cc_frame(spark, idx):
    return sorted(map(tuple, dinc.cc_labels_frame(spark, idx).collect()))


def _cc_scratch(spark, tmp_path, docs, name):
    out = str(tmp_path / name)
    dinc.build_dedup_index(_df(spark, docs), out)
    dinc.build_cc_labels(spark, out)
    return _cc_frame(spark, out)


@pytest.mark.slow
def test_cc_labels_fold_equals_rebuild(spark, tmp_path):
    """Incremental union-find: per snapshot, only the new pair edges are
    computed and merged into the standing labels (contracted CC + alias
    log). Two folds — the second chaining an alias through the first —
    must equal a from-scratch build_cc_labels over the union, and
    compaction must preserve the resolved view."""
    A = WORDS
    A_near = WORDS + " extra"
    c = "completely separate content " + " ".join(
        f"w{i}" for i in range(30))
    D = " ".join(w + "x" for w in WORDS.split())
    D_near = D + " moretail"
    old = [(10, A), (11, "other old content " + D[:50]),
           (4, c), (8, c), (14, E_BASE), (18, E_BASE + " tail")]
    new1 = [(1, A_near),      # merges {10} ∪ {1} under min 1 (alias case)
            (9, c),           # joins the exact group {4, 8}
            (5, D), (6, D_near)]                      # new-new pair
    new2 = [(0, A)]           # exact copy of 10 → chains 1 → 0

    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    dinc.build_cc_labels(spark, idx)
    assert _cc_frame(spark, idx) == _cc_scratch(spark, tmp_path, old, "s0")

    dinc.update_dedup_index(spark, idx, _df(spark, new1))
    assert _cc_frame(spark, idx) == _cc_scratch(
        spark, tmp_path, old + new1, "s1")
    # the singleton-old-doc case got a ROW (not just an alias)
    got = dict(_cc_frame(spark, idx))
    assert got[10] == 1 and got[1] == 1 and got[9] == 4

    dinc.update_dedup_index(spark, idx, _df(spark, new2))
    want = _cc_scratch(spark, tmp_path, old + new1 + new2, "s2")
    assert _cc_frame(spark, idx) == want
    got = dict(_cc_frame(spark, idx))
    assert got[0] == 0 and got[1] == 0 and got[10] == 0   # chain resolved

    # double-build guard + compaction carries rows, aliases, manifest
    with pytest.raises(ValueError, match="already has cc labels"):
        dinc.build_cc_labels(spark, idx)
    dinc.compact_dedup_index(spark, idx, keep_last_snap=True)
    assert _cc_frame(spark, idx) == want
    dinc.compact_dedup_index(spark, idx)
    man = dinc._read_manifest(idx)
    assert man["cc"]["label_snaps"] == [man["snaps"][0]]
    assert _cc_frame(spark, idx) == want


def test_cc_labels_retraction_and_repair(spark, tmp_path):
    """A tombstone kills the removed doc's label row immediately; the
    two documented deferrals (split repair, dead-min label names) are
    repaired by build_cc_labels(rebuild=True); a same-batch REPLACE
    cannot bridge new docs through the retracted rows."""
    c = "completely separate content " + " ".join(
        f"w{i}" for i in range(30))
    old = [(0, WORDS), (1, WORDS + " extra"), (4, c), (8, c)]
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    dinc.build_cc_labels(spark, idx)
    assert dict(_cc_frame(spark, idx)) == {0: 0, 1: 0, 4: 4, 8: 4}

    # retract the {0,1} component's min: row for 0 dies at once; doc 1
    # keeps the (consistent, now dead-named) label 0 until rebuild
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_df(spark, [(0, WORDS)]))
    assert dict(_cc_frame(spark, idx)) == {1: 0, 4: 4, 8: 4}
    dinc.build_cc_labels(spark, idx, rebuild=True)
    got = dict(_cc_frame(spark, idx))
    assert 1 not in got and got == {4: 4, 8: 4}   # 1 is a singleton now

    # REPLACE window: doc 4 retracted while doc 2 (same text) arrives —
    # 2 must cluster with 8 only, and never through the dead 4
    dinc.update_dedup_index(spark, idx, _df(spark, [(2, c)]),
                            removed_docs=_df(spark, [(4, c)]))
    got = dict(_cc_frame(spark, idx))
    assert got[2] == got[8] and 4 not in got
    # rebuild-equality over the surviving corpus
    want = _cc_scratch(spark, tmp_path,
                       [(1, WORDS + " extra"), (8, c), (2, c)], "s")
    dinc.build_cc_labels(spark, idx, rebuild=True)
    assert _cc_frame(spark, idx) == want


@pytest.mark.slow
def test_cc_dead_min_readd_fails_loudly(spark, tmp_path):
    """Re-adding a doc whose id still NAMES a standing component (it was
    the component's min-id label when retracted, and its partners' rows
    survive under that name) must fail loudly instead of conflating the
    re-added doc with the stale cluster — from-scratch would rename the
    old component to its next-min member, so a silent fold would
    spuriously merge two logically distinct clusters. rebuild=True is
    the documented repair; a stale name the alias log has already
    re-pointed away is NOT a collision and must not raise."""
    c = "completely separate content " + " ".join(
        f"w{i}" for i in range(30))
    old = [(0, WORDS), (1, WORDS + " extra"), (4, c), (8, c)]
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    dinc.build_cc_labels(spark, idx)
    assert dict(_cc_frame(spark, idx)) == {0: 0, 1: 0, 4: 4, 8: 4}

    # retract min 0; its partner keeps the dead-named label 0
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_df(spark, [(0, WORDS)]))
    # re-adding 0 (with ANY content) collides with the stale name
    with pytest.raises(ValueError, match="NAMES a standing"):
        dinc.update_dedup_index(spark, idx,
                                _df(spark, [(0, "unrelated body text")]))
    # same-batch REPLACE of a live min is the same collision
    with pytest.raises(ValueError, match="NAMES a standing"):
        dinc.update_dedup_index(spark, idx,
                                _df(spark, [(4, "replacement body")]),
                                removed_docs=_df(spark, [(4, c)]))
    # the failed attempts staged nothing visible
    assert dict(_cc_frame(spark, idx)) == {1: 0, 4: 4, 8: 4}

    # repair, then the same re-add lands cleanly and equals from-scratch
    dinc.build_cc_labels(spark, idx, rebuild=True)
    dinc.update_dedup_index(spark, idx,
                            _df(spark, [(0, "unrelated body text")]))
    want = _cc_scratch(spark, tmp_path,
                       [(1, WORDS + " extra"), (4, c), (8, c),
                        (0, "unrelated body text")], "s0")
    assert _cc_frame(spark, idx) == want

    # an aliased-away dead name is no collision: merge {4,8} with a new
    # smaller-id copy (alias 4 -> 2), retract 4, re-add 4 — must fold
    dinc.update_dedup_index(spark, idx, _df(spark, [(2, c)]))
    dinc.update_dedup_index(spark, idx, removed_docs=_df(spark, [(4, c)]))
    dinc.update_dedup_index(spark, idx, _df(spark, [(4, c)]))
    want = _cc_scratch(spark, tmp_path,
                       [(1, WORDS + " extra"), (8, c), (2, c), (4, c),
                        (0, "unrelated body text")], "s1")
    assert _cc_frame(spark, idx) == want


@pytest.mark.slow
def test_cc_alias_key_readd_as_new_min_fails_loudly(spark, tmp_path):
    """ADVICE r10 medium #2: the alias log re-points label VALUES at
    read time with no snapshot scoping. A retracted doc whose id is a
    standing alias KEY (it named a component that was merged away),
    re-added as the MIN of a brand-new cluster, would write rows with
    its raw id — which the standing alias silently re-points to the old
    merge target, conflating two logically distinct clusters. The fold
    must fail loudly instead; joining an EXISTING cluster under a
    smaller min stays legal (pinned by the tail of
    test_cc_dead_min_readd_fails_loudly)."""
    c = "completely separate content " + " ".join(
        f"w{i}" for i in range(30))
    x = "brand new duplicate body " + " ".join(
        f"q{i}" for i in range(30))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, [(4, c), (8, c)]), idx)
    dinc.build_cc_labels(spark, idx)
    assert dict(_cc_frame(spark, idx)) == {4: 4, 8: 4}

    # merge {4,8} under a smaller min -> alias 4 -> 2
    dinc.update_dedup_index(spark, idx, _df(spark, [(2, c)]))
    assert dict(_cc_frame(spark, idx)) == {2: 2, 4: 2, 8: 2}
    # retract 4, then re-add it as the min of a NEW cluster {4, 7}
    dinc.update_dedup_index(spark, idx, removed_docs=_df(spark, [(4, c)]))
    with pytest.raises(ValueError, match="ALIAS key"):
        dinc.update_dedup_index(spark, idx,
                                _df(spark, [(4, x), (7, x)]))
    # nothing staged by the failed attempt
    assert dict(_cc_frame(spark, idx)) == {2: 2, 8: 2}

    # the documented repair folds the alias log away; the same update
    # then lands and equals from-scratch
    dinc.build_cc_labels(spark, idx, rebuild=True)
    dinc.update_dedup_index(spark, idx, _df(spark, [(4, x), (7, x)]))
    want = _cc_scratch(spark, tmp_path,
                       [(2, c), (8, c), (4, x), (7, x)], "s")
    assert _cc_frame(spark, idx) == want
    got = dict(_cc_frame(spark, idx))
    assert got[4] == 4 and got[7] == 4      # the new cluster keeps 4


@pytest.mark.slow
def test_cc_dead_min_guard_survives_compaction(spark, tmp_path):
    """ADVICE r10 medium #1: compaction folds merged tombstone dirs out
    of visibility while stale dead-min label rows survive the merge —
    the re-add guard used to key on visible tombstones only, so the
    exact hazard it exists for (re-adding a dead doc whose id still
    NAMES a standing component) slipped through silently after a
    compaction. The evidence now persists in the cc block's dead_names
    and the guard stays armed; rebuild clears it."""
    c = "completely separate content " + " ".join(
        f"w{i}" for i in range(30))
    old = [(0, WORDS), (1, WORDS + " extra"), (4, c), (8, c)]
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    dinc.build_cc_labels(spark, idx)
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_df(spark, [(0, WORDS)]))
    dinc.compact_dedup_index(spark, idx)                  # full merge
    man = dinc._read_manifest(idx)
    # no tombstone dirs remain, but the dead name is recorded
    assert not any(
        s for s in man["snaps"]
        if (tmp_path / "idx" / dinc.TOMBSTONES / f"snap={s}").is_dir())
    assert man["cc"]["dead_names"] == [0]
    assert dict(_cc_frame(spark, idx)) == {1: 0, 4: 4, 8: 4}

    with pytest.raises(ValueError, match="NAMES a standing"):
        dinc.update_dedup_index(spark, idx,
                                _df(spark, [(0, "unrelated body text")]))
    assert dict(_cc_frame(spark, idx)) == {1: 0, 4: 4, 8: 4}

    # rebuild renames the component to its live min and clears the
    # evidence; the re-add then lands and equals from-scratch
    dinc.build_cc_labels(spark, idx, rebuild=True)
    assert not dinc._read_manifest(idx)["cc"].get("dead_names")
    dinc.update_dedup_index(spark, idx,
                            _df(spark, [(0, "unrelated body text")]))
    want = _cc_scratch(spark, tmp_path,
                       [(1, WORDS + " extra"), (4, c), (8, c),
                        (0, "unrelated body text")], "s")
    assert _cc_frame(spark, idx) == want

    # a dead ALIAS KEY is recorded too when its alias dir SURVIVES the
    # compaction (kept snap): the tombstone dir folds away, yet the
    # standing alias would still re-point a re-added 4's new rows — the
    # fold must stay loud. (When the alias itself is in the MERGED
    # prefix it is folded into the rows and the key genuinely becomes
    # safe to re-use — that case is pinned below.)
    x = "brand new duplicate body " + " ".join(f"q{i}" for i in range(30))
    idx2 = str(tmp_path / "idx2")
    dinc.build_dedup_index(_df(spark, [(4, c), (8, c)]), idx2)
    dinc.build_cc_labels(spark, idx2)
    dinc.update_dedup_index(spark, idx2,
                            removed_docs=_df(spark, [(4, c)]))
    # doc 2 contracts 8 through its dead-named label 4 -> alias 4 -> 2
    dinc.update_dedup_index(spark, idx2, _df(spark, [(2, c)]))
    dinc.compact_dedup_index(spark, idx2, keep_last_snap=True)
    man2 = dinc._read_manifest(idx2)
    assert 4 in man2["cc"]["dead_names"]
    assert not any(
        (tmp_path / "idx2" / dinc.TOMBSTONES / f"snap={s}").is_dir()
        for s in man2["snaps"])
    with pytest.raises(ValueError, match="ALIAS key"):
        dinc.update_dedup_index(spark, idx2, _df(spark, [(4, x), (7, x)]))
    dinc.build_cc_labels(spark, idx2, rebuild=True)
    dinc.update_dedup_index(spark, idx2, _df(spark, [(4, x), (7, x)]))
    assert _cc_frame(spark, idx2) == _cc_scratch(
        spark, tmp_path, [(2, c), (8, c), (4, x), (7, x)], "s2")

    # merged-prefix alias: a FULL compaction folds 4 -> 2 into the rows,
    # after which re-using 4 as a new min is genuinely safe and must
    # fold cleanly (matches from-scratch, which also labels {4,7} as 4)
    idx3 = str(tmp_path / "idx3")
    dinc.build_dedup_index(_df(spark, [(4, c), (8, c)]), idx3)
    dinc.build_cc_labels(spark, idx3)
    dinc.update_dedup_index(spark, idx3, _df(spark, [(2, c)]))  # 4 -> 2
    dinc.update_dedup_index(spark, idx3,
                            removed_docs=_df(spark, [(4, c)]))
    dinc.compact_dedup_index(spark, idx3)
    assert dinc._read_manifest(idx3)["cc"]["dead_names"] == []
    dinc.update_dedup_index(spark, idx3, _df(spark, [(4, x), (7, x)]))
    assert _cc_frame(spark, idx3) == _cc_scratch(
        spark, tmp_path, [(2, c), (8, c), (4, x), (7, x)], "s3")


@pytest.mark.slow
def test_cc_alias_log_empty_after_full_compaction(spark, tmp_path):
    """VERDICT r10 #7: a FULL compaction folds every visible alias into
    the merged rows, so the post-compaction alias log is empty and the
    driver-side merge map cannot grow unboundedly across compaction
    cycles."""
    c = "completely separate content " + " ".join(
        f"w{i}" for i in range(30))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, [(4, c), (8, c)]), idx)
    dinc.build_cc_labels(spark, idx)
    dinc.update_dedup_index(spark, idx, _df(spark, [(2, c)]))  # alias 4->2
    lsn = dinc._read_manifest(idx)["cc"]["label_snaps"]
    assert dinc._cc_alias_map(spark, idx, lsn) == {4: 2}

    before = _cc_frame(spark, idx)
    dinc.compact_dedup_index(spark, idx)
    man = dinc._read_manifest(idx)
    lsn = man["cc"]["label_snaps"]
    assert dinc._cc_alias_map(spark, idx, lsn) == {}
    assert not any(
        (tmp_path / "idx" / dinc.CC_ALIAS / f"snap={s}").is_dir()
        for s in man["snaps"])
    assert _cc_frame(spark, idx) == before    # resolved view unchanged


def test_ivfpq_refine_equals_exact_rerank(spark, tmp_path):
    """VERDICT r10 #1: refine mode must equal composing the ADC
    top-``refine`` shortlist (identical ordering) with an exact rounded
    cosine re-rank over the store's own embeddings — and with the probe
    and shortlist opened wide it must recover the brute-force exact
    result, the recall the quantization lost."""
    from hadoop_ir_spark.operators import similarity
    from hadoop_ir_spark.operators.dedup import cosine_expr

    ids = list(range(0, 30))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    dinc.train_ann_index(spark, idx, every=4)
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8)
    queries = spark.createDataFrame(
        [(100, _vec(3)), (101, _vec(27))],
        "qid long, embedding array<double>")

    got = sorted(map(tuple, dinc.indexed_ivfpq_topk(
        queries, idx, k=5, nprobe=2, refine=12).collect()))
    # expectation from the building blocks: ADC top-12 (indexed_ivfpq
    # with k=12 IS the shortlist — same (di, docno) ordering), then the
    # exact re-rank
    shortlist = dinc.indexed_ivfpq_topk(
        queries, idx, k=12, nprobe=2).select("qid", "docno")
    emb = _emb_df(spark, ids)
    from pyspark.sql import Window
    exact = (shortlist
             .join(emb.select("docno", F.col("embedding").alias("v")),
                   "docno")
             .join(queries.select("qid", F.col("embedding").alias("qv")),
                   "qid")
             .select("qid", "docno",
                     F.round(cosine_expr(F.col("v"), F.col("qv")), 6)
                     .alias("cosine")))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                          F.desc("docno"))
    want = sorted(map(tuple, exact
                      .withColumn("rank", F.row_number().over(w))
                      .filter(F.col("rank") <= 5)
                      .select("qid", "docno", "cosine",
                              F.col("rank").cast("int").alias("rank"))
                      .collect()))
    assert got == want and len(got) == 10

    # probe everything + refine everything == brute-force exact top-k
    wide = sorted(map(tuple, dinc.indexed_ivfpq_topk(
        queries, idx, k=5, nprobe=100, refine=1000).collect()))
    brute = sorted(map(tuple, similarity.cosine_topk(
        emb, queries, k=5, id_col="docno")
        .select("qid", F.col("vec_id").alias("docno"), "cosine", "rank")
        .collect()))
    assert wide == brute


@pytest.mark.slow
def test_ann_kmeans_trained_fold_equals_rebuild(spark, tmp_path):
    """VERDICT r10 #5: k-means centers persisted via
    train_ann_index(centroids=...) behave exactly like the id-sample
    artifact — the persisted centroids equal the trained ones, folding
    new vectors equals assigning the UNION corpus to those centers, and
    indexed_ann_topk equals ivf_topk over the union with them."""
    from hadoop_ir_spark.operators import similarity

    old_ids = list(range(0, 20))
    new_ids = list(range(20, 30))
    idx = str(tmp_path / "idx")
    old_emb = _emb_df(spark, old_ids)
    dinc.build_dedup_index(_docs_for(spark, old_ids), idx,
                           embeddings=old_emb)
    init = similarity.centroid_sample(old_emb, every=4, id_col="docno",
                                      vec_col="embedding")
    _assign, cents = similarity.kmeans_spherical(
        old_emb, init, iters=2, id_col="docno", vec_col="embedding")
    dinc.train_ann_index(spark, idx, centroids=cents)

    dinc.update_dedup_index(spark, idx, _docs_for(spark, new_ids),
                            new_embeddings=_emb_df(spark, new_ids))
    man = dinc._read_manifest(idx)
    persisted = dinc._ann_centroid_frame(spark, idx, man)
    assert sorted(map(tuple, persisted.collect())) \
        == sorted((r["centroid_id"], list(r["cv"]))
                  for r in cents.collect())

    union_emb = _emb_df(spark, old_ids + new_ids)
    want_assign = sorted(map(tuple, similarity.assign_centroids(
        union_emb, persisted, id_col="docno", vec_col="embedding")
        .select(F.col("vec_id").alias("docno"), "centroid_id").collect()))
    got_assign = sorted(map(tuple, dinc.load_dedup_index(
        spark, idx)["ann_assign"].collect()))
    assert got_assign == want_assign

    queries = spark.createDataFrame(
        [(100, _vec(3)), (101, _vec(27))],
        "qid long, embedding array<double>")
    got = sorted(map(tuple, dinc.indexed_ann_topk(
        queries, idx, k=5, nprobe=2).collect()))
    want = sorted(map(tuple, similarity.ivf_topk(
        union_emb, queries, persisted, k=5, nprobe=2, id_col="docno",
        use_blas=False)
        .select("qid", F.col("vec_id").alias("docno"), "cosine", "rank")
        .collect()))
    assert got == want and len(got) == 10


@pytest.mark.slow
def test_streaming_fold_with_manual_writer_between_batches(
        spark, tmp_path):
    """VERDICT r10 #4 (a): a manual update_dedup_index landing BETWEEN
    two micro-batches is part of the standing corpus the next batch
    deduplicates against, the final store equals from-scratch, and a
    replay of the last batch stays idempotent across the manual snap."""
    b_text = "brand new content " + " ".join(f"b{i}" for i in range(30))
    m_text = "manual writer body " + " ".join(f"m{i}" for i in range(30))
    old = [(10, WORDS)]
    idx = str(tmp_path / "idx")
    statuses = str(tmp_path / "statuses")
    dinc.build_dedup_index(_df(spark, old), idx)

    dinc._apply_dedup_batch(_df(spark, [(20, b_text)]), 0, idx, statuses)
    dinc.update_dedup_index(spark, idx, _df(spark, [(40, m_text)]))
    batch1 = [(30, b_text), (31, m_text)]    # dups batch 0 / the manual
    dinc._apply_dedup_batch(_df(spark, batch1), 1, idx, statuses)

    got = {r["docno"]: r["status"]
           for r in spark.read.parquet(statuses).collect()}
    assert got == {20: "kept", 30: "dropped", 31: "dropped"}

    man1 = dinc._read_manifest(idx)
    content1 = _index_content(spark, idx)
    # crash-window replay of batch 1: manual snap stays visible, fold
    # skipped, statuses unchanged
    dinc._apply_dedup_batch(_df(spark, batch1), 1, idx, statuses)
    assert dinc._read_manifest(idx) == man1
    assert _index_content(spark, idx) == content1
    got2 = {r["docno"]: r["status"]
            for r in spark.read.parquet(statuses).collect()}
    assert got2 == got

    scratch = str(tmp_path / "scratch")
    dinc.build_dedup_index(
        _df(spark, old + [(20, b_text), (40, m_text)] + batch1), scratch)
    a, b = _index_content(spark, idx), _index_content(spark, scratch)
    for t in a:
        assert a[t] == b[t], t


@pytest.mark.slow
def test_streaming_fold_colliding_with_manual_writer(spark, tmp_path,
                                                     monkeypatch):
    """VERDICT r10 #4 (b): a manual writer committing INSIDE the batch
    fold's stage window makes the batch's CAS fail — one
    ConcurrentWriteError loser (the batch; foreachBatch's retry
    semantics re-run it), staged dirs cleaned up, and the retried batch
    lands a store equal to the sequential ordering."""
    b_text = "brand new content " + " ".join(f"b{i}" for i in range(30))
    m_text = "manual writer body " + " ".join(f"m{i}" for i in range(30))
    old = [(10, WORDS)]
    idx = str(tmp_path / "idx")
    statuses = str(tmp_path / "statuses")
    dinc.build_dedup_index(_df(spark, old), idx)

    fired = {"done": False}
    orig_write = dinc._SnapAttempt.write

    def interleaved(self, df, table):
        if not fired["done"]:
            fired["done"] = True
            dinc.update_dedup_index(spark, idx, _df(spark, [(40, m_text)]))
        return orig_write(self, df, table)

    monkeypatch.setattr(dinc._SnapAttempt, "write", interleaved)
    batch = [(20, b_text), (21, m_text)]     # 21 dups the manual doc
    with pytest.raises(dinc.ConcurrentWriteError, match="concurrent"):
        dinc._apply_dedup_batch(_df(spark, batch), 0, idx, statuses)
    monkeypatch.setattr(dinc._SnapAttempt, "write", orig_write)

    import os
    leftovers = [e for t in os.listdir(idx)
                 if os.path.isdir(os.path.join(idx, t))
                 for e in os.listdir(os.path.join(idx, t))
                 if ".tmp-" in e]
    assert not leftovers, leftovers
    man = dinc._read_manifest(idx)
    assert man["last_batch_id"] is None      # the batch did NOT commit

    # foreachBatch retry: the batch re-runs against the post-manual view
    # — doc 21 now dups the manual doc 40 and is dropped
    dinc._apply_dedup_batch(_df(spark, batch), 0, idx, statuses)
    got = {r["docno"]: r["status"]
           for r in spark.read.parquet(statuses).collect()}
    assert got == {20: "kept", 21: "dropped"}
    scratch = str(tmp_path / "scratch")
    dinc.build_dedup_index(_df(spark, old + [(40, m_text)] + batch),
                           scratch)
    a, b = _index_content(spark, idx), _index_content(spark, scratch)
    for t in a:
        assert a[t] == b[t], t


@pytest.mark.slow
def test_cc_health_reports_deferral_damage(spark, tmp_path):
    """VERDICT r10 #2: cc_health makes the elective-rebuild decision
    data-driven — each counter is driven through its deferral window
    (clean build → alias merge → chained alias → retraction of a member
    → retraction of a min → compaction → rebuild)."""
    c = "completely separate content " + " ".join(
        f"w{i}" for i in range(30))
    old = [(3, WORDS), (5, WORDS + " extra"), (4, c), (8, c), (9, c)]
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    dinc.build_cc_labels(spark, idx)

    h = dinc.cc_health(spark, idx)
    assert h["n_label_rows"] == 5 and h["n_components"] == 2
    assert h["n_aliases"] == 0 and h["max_alias_chain"] == 0
    assert h["n_dead_names"] == 0 and h["n_components_touched"] == 0
    assert h["recommendation"] == "none"

    # a merge fold writes one alias (3 -> 2); chain it with a second
    # (2 -> 1): chain depth 2, and a tight compact threshold trips
    dinc.update_dedup_index(spark, idx, _df(spark, [(2, WORDS)]))
    dinc.update_dedup_index(spark, idx, _df(spark, [(1, WORDS)]))
    h = dinc.cc_health(spark, idx)
    assert h["n_aliases"] == 2 and h["max_alias_chain"] == 2
    assert h["recommendation"] == "none"
    assert dinc.cc_health(spark, idx,
                          alias_compact_threshold=2)["recommendation"] \
        == "compact"
    assert dinc.cc_health(spark, idx,
                          chain_compact_threshold=2)["recommendation"] \
        == "compact"

    # retracting a NON-min member: its component is touched (possible
    # split) but no dead name stands
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_df(spark, [(8, c)]))
    h = dinc.cc_health(spark, idx)
    assert h["n_dead_names"] == 0
    assert h["n_retracted_members"] == 1
    assert h["n_components_touched"] == 1
    assert h["recommendation"] == "rebuild"
    # n_components_touched only UPPER-BOUNDS split damage — a
    # routine-takedown pipeline raises the threshold so one takedown
    # doesn't buy an O(corpus) rebuild per cycle (ADVICE r11)
    assert dinc.cc_health(spark, idx, touched_rebuild_threshold=2
                          )["recommendation"] == "none"

    # retracting the {4,8,9} min leaves a standing dead NAME too (the
    # surviving member 9 keeps its row under label 4)
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_df(spark, [(4, c)]))
    h = dinc.cc_health(spark, idx)
    assert h["n_dead_names"] == 1
    assert h["n_retracted_members"] == 2
    assert h["recommendation"] == "rebuild"
    # a standing dead NAME is the hard trigger — no threshold bypasses
    # the re-add hazard
    assert dinc.cc_health(spark, idx, touched_rebuild_threshold=99
                          )["recommendation"] == "rebuild"

    # compaction folds the tombstones away but the evidence persists
    # (manifest dead_names + the alias keys' own liveness)
    dinc.compact_dedup_index(spark, idx)
    h = dinc.cc_health(spark, idx)
    assert h["n_dead_names"] >= 1
    assert h["recommendation"] == "rebuild"

    # rebuild retires everything
    dinc.build_cc_labels(spark, idx, rebuild=True)
    h = dinc.cc_health(spark, idx)
    assert h["n_aliases"] == 0 and h["n_dead_names"] == 0
    assert h["n_components_touched"] == 0
    assert h["recommendation"] == "none"


@pytest.mark.slow
def test_ann_health_reports_retrain_inputs(spark, tmp_path):
    """r11: ann_health makes the elective RETRAIN decision data-driven —
    fold fraction (corpus share the frozen artifacts never saw), IVF
    list skew / empty lists, PQ codebook utilization, with a retrain
    recommendation when the thresholds trip; retrain resets it."""
    old_ids = list(range(0, 20))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, old_ids), idx,
                           embeddings=_emb_df(spark, old_ids))
    with pytest.raises(ValueError, match="no trained ANN, PQ or SQ"):
        dinc.ann_health(spark, idx)
    dinc.train_ann_index(spark, idx, every=4)
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8)

    h = dinc.ann_health(spark, idx)
    assert h["ivf"]["n_assigned"] == 20 and h["ivf"]["n_centroids"] == 5
    assert h["ivf"]["fold_fraction"] == 0.0
    assert h["pq"]["n_encoded"] == 20 and h["pq"]["fold_fraction"] == 0.0
    assert 0.0 < h["pq"]["codebook_utilization"] <= 1.0
    assert h["recommendation"] == "none"

    # a small fold: fraction rises but stays under the 0.5 default
    dinc.update_dedup_index(spark, idx, _docs_for(spark, [20, 21]),
                            new_embeddings=_emb_df(spark, [20, 21]))
    h = dinc.ann_health(spark, idx)
    assert h["ivf"]["fold_fraction"] == round(2 / 22, 3)
    assert h["pq"]["fold_fraction"] == round(2 / 22, 3)
    assert h["recommendation"] == "none"
    # a tightened threshold trips on the same store
    assert dinc.ann_health(spark, idx, fold_retrain_threshold=0.05
                           )["recommendation"] == "retrain"

    # a large fold (new >> trained-on) crosses the default
    dinc.update_dedup_index(spark, idx, _docs_for(spark, range(30, 55)),
                            new_embeddings=_emb_df(spark, range(30, 55)))
    h = dinc.ann_health(spark, idx)
    assert h["ivf"]["fold_fraction"] > 0.5
    assert h["recommendation"] == "retrain"

    # the elective retrain resets both fractions
    dinc.train_ann_index(spark, idx, every=4, retrain=True)
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8,
                        retrain=True)
    h = dinc.ann_health(spark, idx)
    assert h["ivf"]["fold_fraction"] == 0.0
    assert h["pq"]["fold_fraction"] == 0.0
    assert h["ivf"]["n_assigned"] == 47 and h["pq"]["n_encoded"] == 47
    assert h["recommendation"] == "none"

    # retraction flows through: tombstoned docs leave both tables
    dinc.update_dedup_index(
        spark, idx, removed_docs=_docs_for(spark, [20, 21]))
    h = dinc.ann_health(spark, idx)
    assert h["ivf"]["n_assigned"] == 45 and h["pq"]["n_encoded"] == 45


@pytest.mark.slow
def test_maintain_dedup_index_runs_recommended_passes(spark, tmp_path):
    """r11: the one-call maintenance step performs exactly what the
    health reports recommend — nothing on a clean store beyond the log
    compaction, cc rebuild after a hazardous retraction, ANN/PQ retrain
    after a large fold — and returns the pre-maintenance evidence."""
    c = "completely separate content " + " ".join(
        f"w{i}" for i in range(30))
    ids = list(range(0, 12))
    idx = str(tmp_path / "idx")
    docs = [(i, t) for i, t in
            ((r["docno"], r["text"]) for r in
             _docs_for(spark, ids).collect())]
    dinc.build_dedup_index(_df(spark, docs + [(100, c), (101, c)]), idx,
                           embeddings=_emb_df(spark, ids))
    dinc.build_cc_labels(spark, idx)
    dinc.train_ann_index(spark, idx, every=4)
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8)

    # clean store, small log (build+cc+2 trains = 4 snaps): the default
    # compact="auto" pays NOTHING — no elective pass is due and the
    # visible snap count is under snap_compact_threshold (r12, VERDICT
    # r11 #3: the weekly call must be corpus-proportional only when the
    # data says so)
    out = dinc.maintain_dedup_index(spark, idx)
    assert out["actions"] == []
    assert out["cc"]["recommendation"] == "none"
    assert out["ann"]["recommendation"] == "none"
    # ...a tightened snap threshold makes auto pay the merge
    out = dinc.maintain_dedup_index(spark, idx, snap_compact_threshold=3)
    assert out["actions"] == ["compact"]

    # already-compact store: explicit compact=True forces the attempt,
    # which finds nothing to merge
    out = dinc.maintain_dedup_index(spark, idx, compact=True)
    assert out["actions"] == []

    # a fold builds up log; auto stays quiet below the threshold and
    # compact=True forces the merge
    dinc.update_dedup_index(spark, idx, _docs_for(spark, [20, 21]),
                            new_embeddings=_emb_df(spark, [20, 21]))
    out = dinc.maintain_dedup_index(spark, idx)
    assert out["actions"] == []
    out = dinc.maintain_dedup_index(spark, idx, compact=True)
    assert out["actions"] == ["compact"]

    # retract the {100,101} min -> cc rebuild due; a big vector fold ->
    # retrain due; one call pays both, then compacts
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_df(spark, [(100, c)]))
    dinc.update_dedup_index(spark, idx, _docs_for(spark, range(30, 70)),
                            new_embeddings=_emb_df(spark, range(30, 70)))
    out = dinc.maintain_dedup_index(spark, idx, keep_last_snap=False)
    assert out["actions"] == ["cc_rebuild", "ann_retrain", "pq_retrain",
                              "compact"]
    assert out["cc"]["recommendation"] == "rebuild"
    assert out["ann"]["recommendation"] == "retrain"
    # post-state: everything clean, store fully compacted
    h = dinc.cc_health(spark, idx)
    assert h["recommendation"] == "none" and h["n_dead_names"] == 0
    assert dinc.ann_health(spark, idx)["recommendation"] == "none"
    # the hazardous re-add now lands (rebuild retired the dead name)
    dinc.update_dedup_index(spark, idx, _df(spark, [(100, c)]))
    got = dict((r["docno"], r["label"]) for r in
               dinc.cc_labels_frame(spark, idx).collect())
    assert got[100] == got[101]


@pytest.mark.slow
def test_residual_pq_index_fold_equals_rebuild(spark, tmp_path):
    """r11: residual PQ (IVFADC — codes encode x − c(x) against the
    persisted IVF centroids). Folding new vectors must equal encoding
    the UNION corpus's residuals against the persisted codebook; the
    flat PQ scan refuses residual stores; the composed residual query
    equals the hand-composed expectation and the wide-open
    probe+refine still recovers brute force."""
    from hadoop_ir_spark.operators import similarity

    old_ids = list(range(0, 20))
    new_ids = list(range(20, 30))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, old_ids), idx,
                           embeddings=_emb_df(spark, old_ids))
    with pytest.raises(ValueError, match="residual PQ"):
        dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3,
                            dims=8, residual=True)
    dinc.train_ann_index(spark, idx, every=4)
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8,
                        residual=True)
    man = dinc._read_manifest(idx)
    assert man["pq"]["residual"] is True

    dinc.update_dedup_index(spark, idx, _docs_for(spark, new_ids),
                            new_embeddings=_emb_df(spark, new_ids))
    man = dinc._read_manifest(idx)

    # fold == rebuild: union residuals (per-doc assignment to the
    # persisted centroids) encoded against the persisted codebook
    cents = dinc._ann_centroid_frame(spark, idx, man)
    union_emb = _emb_df(spark, old_ids + new_ids)
    union_assign = similarity.assign_centroids(
        union_emb, cents, id_col="docno", vec_col="embedding").select(
        F.col("vec_id").alias("docno"), "centroid_id")
    union_res = dinc._residual_frame(union_emb, union_assign, cents)
    cb = dinc._pq_codebook_frame(spark, idx, man)
    want_codes = sorted(map(tuple, similarity.pq_encode(
        union_res, cb, m=4, id_col="docno", vec_col="embedding", dims=8)
        .select(F.col("vec_id").alias("docno"), "s", "code").collect()))
    got_codes = sorted(map(tuple, dinc.load_dedup_index(
        spark, idx)["ann_codes"].collect()))
    assert got_codes == want_codes

    with pytest.raises(ValueError, match="RESIDUAL"):
        dinc.indexed_pq_topk(spark.createDataFrame(
            [(1, _vec(3))], "qid long, embedding array<double>"), idx)

    # composed residual serving == hand-composed IVFADC expectation
    queries = spark.createDataFrame(
        [(100, _vec(3)), (101, _vec(27))],
        "qid long, embedding array<double>")
    got = sorted(map(tuple, dinc.indexed_ivfpq_topk(
        queries, idx, k=5, nprobe=2).collect()))
    from pyspark.sql import Window
    from hadoop_ir_spark.operators.dedup import cosine_expr
    qp = queries.crossJoin(F.broadcast(cents)).select(
        F.col("qid"), F.col("embedding").alias("qv"), "centroid_id",
        cosine_expr(F.col("embedding"), F.col("cv")).alias("csim"))
    wq = Window.partitionBy("qid").orderBy(F.desc("csim"),
                                           F.asc("centroid_id"))
    probes = (qp.withColumn("_r", F.row_number().over(wq))
              .filter(F.col("_r") <= 2).select("qid", "qv",
                                               "centroid_id"))
    rq = (probes.join(F.broadcast(cents), "centroid_id")
          .select("qid", "centroid_id",
                  F.zip_with(F.col("qv").cast("array<double>"),
                             F.col("cv"), lambda a, b: a - b)
                  .alias("embedding"),
                  F.concat(F.col("qid"), F.lit(1000000),
                           F.col("centroid_id")).alias("_qc")))
    lut = similarity.pq_lut(
        rq.select(F.col("_qc").alias("qid"), "embedding"), cb, m=4,
        dims=8).withColumnRenamed("qid", "_qc")
    cand = (union_assign.join(
        F.broadcast(probes.select("qid", "centroid_id")), "centroid_id")
        .join(F.broadcast(rq.select("qid", "centroid_id", "_qc")),
              ["qid", "centroid_id"]))
    codes = dinc.load_dedup_index(spark, idx)["ann_codes"]
    scored = (codes.join(cand, "docno")
              .join(F.broadcast(lut), ["_qc", "s", "code"])
              .groupBy("qid", "docno").agg(F.sum("d2_i").alias("_di")))
    w = Window.partitionBy("qid").orderBy(F.asc("_di"), F.desc("docno"))
    want = sorted(map(tuple, scored
                      .withColumn("rank", F.row_number().over(w))
                      .filter(F.col("rank") <= 5)
                      .select("qid", "docno",
                              F.round(F.col("_di").cast("double") / 1e6,
                                      6).alias("approx_d2"),
                              F.col("rank").cast("int").alias("rank"))
                      .collect()))
    assert got == want and len(got) == 10

    # wide-open probe + refine recovers brute force on residual stores
    wide = sorted(map(tuple, dinc.indexed_ivfpq_topk(
        queries, idx, k=5, nprobe=100, refine=1000).collect()))
    brute = sorted(map(tuple, similarity.cosine_topk(
        union_emb, queries, k=5, id_col="docno")
        .select("qid", F.col("vec_id").alias("docno"), "cosine", "rank")
        .collect()))
    assert wide == brute


@pytest.mark.slow
def test_residual_stale_guard_after_ivf_retrain(spark, tmp_path):
    """r12 (VERDICT r11 #1): residual PQ codes encode x − c(x) against
    a specific IVF centroid GENERATION; a manual
    train_ann_index(retrain=True) bumps the generation and orphans
    them. Serving must refuse LOUDLY (it used to compute silently wrong
    ADC distances), ann_health must surface the state as a mandatory
    retrain, and the named repair must restore service."""
    import pytest as _pt

    ids = list(range(0, 20))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    dinc.train_ann_index(spark, idx, every=4)
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8,
                        residual=True)
    man = dinc._read_manifest(idx)
    assert man["ann"]["generation"] == 0
    assert man["pq"]["ivf_generation"] == 0

    q = _emb_df(spark, [2, 7]).select(F.col("docno").alias("qid"),
                                      "embedding")
    assert dinc.indexed_ivfpq_topk(q, idx, k=3, nprobe=2).count() > 0

    # the hazardous manual sequence: IVF retrain without the paired
    # PQ re-encode
    dinc.train_ann_index(spark, idx, every=4, retrain=True)
    assert dinc._read_manifest(idx)["ann"]["generation"] == 1
    with _pt.raises(ValueError, match="generation"):
        dinc.indexed_ivfpq_topk(q, idx, k=3, nprobe=2)
    with _pt.raises(ValueError, match="train_pq_index"):
        dinc.indexed_ivfpq_topk(q, idx, k=3, nprobe=2, refine=6)
    h = dinc.ann_health(spark, idx)
    assert h["pq"]["residual_stale"] is True
    assert h["recommendation"] == "retrain"

    # the named repair: re-encode against the new centroids
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8,
                        residual=True, retrain=True)
    man = dinc._read_manifest(idx)
    assert man["pq"]["ivf_generation"] == man["ann"]["generation"] == 1
    h = dinc.ann_health(spark, idx)
    assert h["pq"]["residual_stale"] is False
    assert dinc.indexed_ivfpq_topk(q, idx, k=3, nprobe=2).count() > 0

    # one-call maintenance also repairs the orphaned state (retrains
    # IVF then PQ in the safe order)
    dinc.train_ann_index(spark, idx, every=4, retrain=True)
    out = dinc.maintain_dedup_index(spark, idx)
    assert "pq_retrain" in out["actions"]
    assert out["ann"]["pq"]["residual_stale"] is True
    assert dinc.ann_health(spark, idx)["pq"]["residual_stale"] is False
    assert dinc.indexed_ivfpq_topk(q, idx, k=3, nprobe=2).count() > 0


@pytest.mark.slow
def test_ann_health_fold_fraction_survives_compaction(spark, tmp_path):
    """r12 (VERDICT r11 #2 / ADVICE r11 medium): fold_fraction comes
    from row-level training provenance, not snap position — compaction
    (which merges the training dirs and every fold into one prefix
    snap) must leave it UNCHANGED, and a post-compaction retraction
    must debit the bucket the dead row was written in."""
    old_ids = list(range(0, 20))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, old_ids), idx,
                           embeddings=_emb_df(spark, old_ids))
    dinc.train_ann_index(spark, idx, every=4)
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=3, dims=8)
    dinc.update_dedup_index(spark, idx, _docs_for(spark, [20, 21, 22]),
                            new_embeddings=_emb_df(spark, [20, 21, 22]))
    h1 = dinc.ann_health(spark, idx)
    assert h1["ivf"]["fold_fraction"] == round(3 / 23, 3)
    assert h1["pq"]["fold_fraction"] == round(3 / 23, 3)

    # the old positional inference collapsed this to 0.0 after any
    # compaction (all rows land in the merged first snap), so
    # maintain_dedup_index's weekly compact+report cycle could starve
    # the retrain recommendation forever
    dinc.compact_dedup_index(spark, idx)
    h2 = dinc.ann_health(spark, idx)
    assert h2["ivf"]["fold_fraction"] == h1["ivf"]["fold_fraction"]
    assert h2["pq"]["fold_fraction"] == h1["pq"]["fold_fraction"]

    # retract one TRAINED doc and one FOLDED doc: live 21, folded 2
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_docs_for(spark, [0, 20]))
    h3 = dinc.ann_health(spark, idx)
    assert h3["ivf"]["n_assigned"] == 21
    assert h3["ivf"]["fold_fraction"] == round(2 / 21, 3)
    assert h3["pq"]["n_encoded"] == 21
    assert h3["pq"]["fold_fraction"] == round(2 / 21, 3)

    # further folds keep accumulating on the compacted store
    dinc.update_dedup_index(spark, idx, _docs_for(spark, range(30, 35)),
                            new_embeddings=_emb_df(spark, range(30, 35)))
    h4 = dinc.ann_health(spark, idx)
    assert h4["ivf"]["fold_fraction"] == round(7 / 26, 3)
    assert h4["pq"]["fold_fraction"] == round(7 / 26, 3)

    # a second compaction after the new folds still changes nothing
    dinc.compact_dedup_index(spark, idx)
    assert dinc.ann_health(spark, idx)["ivf"]["fold_fraction"] \
        == round(7 / 26, 3)


@pytest.mark.slow
def test_maintain_skips_custom_trained_retrain(spark, tmp_path):
    """r12 (ADVICE r11 low): a health-driven automatic retrain must
    not silently replace explicit (k-means-style) centroids with the
    default id-sample — maintain skips it, records the skip, and
    retrains when fresh centroids are supplied."""
    ids = list(range(0, 12))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    cents = spark.createDataFrame(
        [(0, _vec(1)), (1, _vec(6)), (2, _vec(11))],
        "centroid_id int, cv array<double>")
    dinc.train_ann_index(spark, idx, centroids=cents)
    man = dinc._read_manifest(idx)
    assert man["ann"]["method"] == "custom"
    snap0 = man["ann"]["centroid_snap"]

    # a big fold trips the retrain recommendation
    dinc.update_dedup_index(spark, idx, _docs_for(spark, range(20, 50)),
                            new_embeddings=_emb_df(spark, range(20, 50)))
    out = dinc.maintain_dedup_index(spark, idx)
    assert "ann_retrain_skipped_custom" in out["actions"]
    assert "ann_retrain" not in out["actions"]
    man = dinc._read_manifest(idx)
    assert man["ann"]["centroid_snap"] == snap0
    assert man["ann"]["generation"] == 0

    # supplying fresh explicit centroids unblocks the retrain
    cents2 = spark.createDataFrame(
        [(0, _vec(2)), (1, _vec(25)), (2, _vec(40)), (3, _vec(47))],
        "centroid_id int, cv array<double>")
    out = dinc.maintain_dedup_index(spark, idx,
                                    ann_kwargs={"centroids": cents2})
    assert "ann_retrain" in out["actions"]
    man = dinc._read_manifest(idx)
    assert man["ann"]["method"] == "custom"
    assert man["ann"]["generation"] == 1
    assert dinc.ann_health(spark, idx)["ivf"]["fold_fraction"] == 0.0


@pytest.mark.slow
def test_maintain_never_orphans_residual_codes(spark, tmp_path):
    """r12: when the PQ re-encode must be skipped (custom codebook,
    none supplied) on a RESIDUAL store, maintain must skip the IVF
    retrain too — performing it would create exactly the stale state
    the serving guard refuses."""
    ids = list(range(0, 16))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    dinc.train_ann_index(spark, idx, every=4)
    cb = spark.createDataFrame(
        [(s, c, [float(s) + 0.1 * c, float(c) - 0.2 * s])
         for s in range(4) for c in range(3)],
        "s int, code int, cv array<double>")
    dinc.train_pq_index(spark, idx, m=4, kk=3, train_every=3, dims=8,
                        residual=True, codebook=cb)
    assert dinc._read_manifest(idx)["pq"]["method"] == "custom"

    dinc.update_dedup_index(spark, idx, _docs_for(spark, range(20, 50)),
                            new_embeddings=_emb_df(spark, range(20, 50)))
    out = dinc.maintain_dedup_index(spark, idx)
    assert "ann_retrain_skipped_custom" in out["actions"]
    assert "pq_retrain_skipped_custom" in out["actions"]
    # serving still works: nothing was orphaned
    q = _emb_df(spark, [2, 7]).select(F.col("docno").alias("qid"),
                                      "embedding")
    assert dinc.indexed_ivfpq_topk(q, idx, k=3, nprobe=2).count() > 0


@pytest.mark.slow
def test_vacuum_dry_run(spark, tmp_path):
    """r12 (VERDICT r11 #4): dry_run previews exactly the reclaim the
    real pass would perform — paths with ages, nothing deleted."""
    import os as _os

    ids = list(range(0, 8))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx)
    dinc.update_dedup_index(spark, idx, _docs_for(spark, [20, 21]))
    dinc.compact_dedup_index(spark, idx)

    preview = dinc.vacuum_dedup_index(idx, dry_run=True)
    assert preview, "compaction must leave unreferenced dirs to preview"
    for ent in preview:
        assert _os.path.isdir(ent["path"]), "dry_run must not delete"
        assert ent["age_s"] >= 0.0

    deleted = dinc.vacuum_dedup_index(idx)
    assert sorted(deleted) == sorted(e["path"] for e in preview)
    assert not any(_os.path.isdir(p) for p in deleted)
    assert dinc.vacuum_dedup_index(idx, dry_run=True) == []


def test_ann_health_list_skew_on_skewed_embeddings(spark, tmp_path):
    """r12 (VERDICT r11 optional #7): the list-skew retrain trigger,
    exercised on a genuinely skewed fixture — vectors piled near one
    centroid so max-list/mean-list crosses the threshold (hot lists
    degrade the nprobe candidate bound; a retrain re-spreads them)."""
    idx = str(tmp_path / "idx")
    # 3 well-separated custom centroids; 20 of 24 vectors hug c0
    base = {0: [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
            1: [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
            2: [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]}
    vecs = []
    for i in range(24):
        c = 0 if i < 20 else (1 if i < 22 else 2)
        v = list(base[c])
        v[3 + (i % 5)] = 0.01 * (i + 1)     # tiny per-vector jitter
        vecs.append((i, v))
    emb = spark.createDataFrame(vecs, "docno long, embedding array<double>")
    dinc.build_dedup_index(_docs_for(spark, range(24)), idx,
                           embeddings=emb)
    cents = spark.createDataFrame(
        [(k, v) for k, v in base.items()],
        "centroid_id int, cv array<double>")
    dinc.train_ann_index(spark, idx, centroids=cents)

    h = dinc.ann_health(spark, idx)
    # 20/8 = 2.5x skew measured; the default 8.0 threshold stays quiet,
    # a tightened one trips — and fold_fraction stays 0 (skew, not
    # drift, is the trigger here)
    assert h["ivf"]["list_skew"] == 2.5
    assert h["ivf"]["fold_fraction"] == 0.0
    assert h["recommendation"] == "none"
    assert dinc.ann_health(spark, idx, skew_retrain_threshold=2.0
                           )["recommendation"] == "retrain"


@pytest.mark.slow
def test_cc_health_verify_splits(spark, tmp_path):
    """r12 (ADVICE r11, the precise form): verify_splits replaces the
    touched-components upper bound with a bounded exact connectivity
    recheck — a touched-but-still-connected component costs nothing, a
    verified split is a hard rebuild trigger, oversized components stay
    conservatively unverified."""
    # chain component 1-2-3-4: adjacent shingle-overlap Jaccard
    # 55/61 ≈ 0.902 >= tau=0.9, skip-one 52/64 ≈ 0.813 < tau — so the
    # only edges are the chain's; plus an exact-content triple {10,11,12}
    ws = [f"tok{i}" for i in range(70)]
    A = " ".join(ws[0:60])
    B = " ".join(ws[3:63])
    C = " ".join(ws[6:66])
    D = " ".join(ws[9:69])
    assert len(_shingle_set(A) & _shingle_set(B)) / \
        len(_shingle_set(A) | _shingle_set(B)) >= 0.9
    assert len(_shingle_set(A) & _shingle_set(C)) / \
        len(_shingle_set(A) | _shingle_set(C)) < 0.9
    c = "completely separate content " + " ".join(
        f"x{i}" for i in range(30))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(
        _df(spark, [(1, A), (2, B), (3, C), (4, D),
                    (10, c), (11, c), (12, c)]), idx)
    dinc.build_cc_labels(spark, idx, tau=0.9)
    labs = {r["docno"]: r["label"] for r in
            dinc.cc_labels_frame(spark, idx).collect()}
    assert labs == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}

    # retract the chain ENDPOINT 4: touched, but 1-2-3 stays connected
    dinc.update_dedup_index(spark, idx, removed_docs=_df(spark, [(4, D)]))
    h = dinc.cc_health(spark, idx, verify_splits=True)
    assert h["n_components_touched"] == 1
    assert h["n_components_split"] == 0
    assert h["n_components_unverified"] == 0
    assert h["recommendation"] == "none"
    # the unverified upper bound still says rebuild
    assert dinc.cc_health(spark, idx)["recommendation"] == "rebuild"
    # an oversized component falls back to the conservative bound
    h = dinc.cc_health(spark, idx, verify_splits=True,
                       max_verify_members=2)
    assert h["n_components_unverified"] == 1
    assert h["recommendation"] == "rebuild"

    # retract the chain MIDDLE 2: members {1, 3} have no edge (J ≈
    # 0.813 < tau) — a GENUINE split, hard trigger regardless of
    # threshold; the exact triple stays connected when 11 goes
    dinc.update_dedup_index(spark, idx, removed_docs=_df(
        spark, [(2, B), (11, c)]))
    h = dinc.cc_health(spark, idx, verify_splits=True,
                       touched_rebuild_threshold=99)
    assert h["n_components_touched"] == 2
    assert h["n_components_split"] == 1
    assert h["recommendation"] == "rebuild"

    # the distributed audit twin agrees: chain label 1 now covers two
    # subcomponents ({1}, {3}), the exact triple stays one ({10, 12})
    rep = {r["label"]: (r["n_members"], r["n_subcomponents"])
           for r in dinc.cc_split_report(spark, idx).collect()}
    assert rep == {1: (2, 2), 10: (2, 1)}


@pytest.mark.slow
def test_maintain_loses_race_loudly_and_retries_clean(spark, tmp_path,
                                                      monkeypatch):
    """r12: the one-call maintenance step inherits the store's
    optimistic-concurrency contract — a fold committing while maintain
    stages its retrain makes maintain's CAS lose LOUDLY
    (ConcurrentWriteError), the fold's snapshot survives, no staged
    dirs leak, and a retry performs the due passes cleanly."""
    ids = list(range(0, 10))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    dinc.train_ann_index(spark, idx, every=3)
    dinc.train_pq_index(spark, idx, m=4, kk=4, train_every=2, dims=8)
    # a big fold makes the ANN/PQ retrain due
    dinc.update_dedup_index(spark, idx, _docs_for(spark, range(20, 40)),
                            new_embeddings=_emb_df(spark, range(20, 40)))

    fired = {"done": False}
    orig_write = dinc._SnapAttempt.write

    def interleaved(self, df, table):
        if not fired["done"]:
            fired["done"] = True
            # a writer lands a COMPLETE fold while maintain's retrain
            # is mid-stage
            dinc.update_dedup_index(spark, idx, _docs_for(spark, [50]),
                                    new_embeddings=_emb_df(spark, [50]))
        return orig_write(self, df, table)

    monkeypatch.setattr(dinc._SnapAttempt, "write", interleaved)
    with pytest.raises(dinc.ConcurrentWriteError, match="concurrent"):
        dinc.maintain_dedup_index(spark, idx)
    monkeypatch.setattr(dinc._SnapAttempt, "write", orig_write)

    # the interleaved fold survived; maintain's aborted attempt left no
    # staged dirs; the store still serves
    import os as _os
    live = dinc.load_dedup_index(spark, idx)
    assert 50 in {r["docno"] for r in live["embeddings"].collect()}
    leftovers = [_os.path.join(t, e)
                 for t in _os.listdir(idx)
                 if _os.path.isdir(_os.path.join(idx, t))
                 for e in _os.listdir(_os.path.join(idx, t))
                 if ".tmp-" in e]
    assert not leftovers, leftovers
    q = _emb_df(spark, [2]).select(F.col("docno").alias("qid"),
                                   "embedding")
    assert dinc.indexed_ivfpq_topk(q, idx, k=3, nprobe=2).count() > 0

    # the retry pays the due passes and leaves a clean store
    out = dinc.maintain_dedup_index(spark, idx)
    assert "ann_retrain" in out["actions"]
    assert "pq_retrain" in out["actions"]
    h = dinc.ann_health(spark, idx)
    assert h["recommendation"] == "none"
    assert h["ivf"]["fold_fraction"] == 0.0
    assert h["ivf"]["n_assigned"] == 31   # 10 + 20 + doc 50


@pytest.mark.slow
def test_filtered_ann_pre_post_and_oversampling(spark, tmp_path):
    """r12 metadata-filtered vector search, the three pinned claims:
    (1) pre-filter is EXACT over the probed set — it equals scoring
    every probed candidate and dropping disallowed docs afterwards;
    (2) post-filter draws the shortlist filter-blind, so with no
    oversampling it returns a strict subset of the unfiltered top-k
    (fewer than k rows when the filter bites) while pre still fills k;
    (3) with the probe and shortlist opened wide, BOTH modes converge
    to the brute-force filtered exact top-k (post's refine is exactly
    the oversampling mitigation)."""
    from hadoop_ir_spark.operators.dedup import cosine_expr
    from pyspark.sql import Window

    ids = list(range(0, 40))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    dinc.train_ann_index(spark, idx, every=5)
    dinc.train_pq_index(spark, idx)
    queries = spark.createDataFrame(
        [(100, _vec(3)), (101, _vec(27)), (102, _vec(11))],
        "qid long, embedding array<double>")
    # allowlist via a NON-docno column name (first-column normalization)
    allow = spark.createDataFrame(
        [(i,) for i in ids if i % 2 == 1], "vec_id long")

    k = 5
    # (1) pre ≡ score-everything-then-filter: unfiltered with k wide
    # open, drop disallowed, re-rank, cut to k
    pre = dinc.indexed_ivfpq_topk(queries, idx, k=k, nprobe=2,
                                  filter_docs=allow)
    wide = dinc.indexed_ivfpq_topk(queries, idx, k=len(ids), nprobe=2)
    w = Window.partitionBy("qid").orderBy(
        F.asc("approx_d2"), F.desc("docno"))
    want = (wide.filter(F.col("docno") % 2 == 1)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "docno", "approx_d2",
                    F.col("rank").cast("int").alias("rank")))
    assert sorted(map(tuple, pre.collect())) \
        == sorted(map(tuple, want.collect()))
    assert pre.groupBy("qid").count().filter(
        F.col("count") != k).count() == 0

    # (2) the post-filter trap: filter-blind top-k, then filter — a
    # strict subset of the unfiltered top-k, short of k rows
    unf = dinc.indexed_ivfpq_topk(queries, idx, k=k, nprobe=2)
    post = dinc.indexed_ivfpq_topk(queries, idx, k=k, nprobe=2,
                                   filter_docs=allow,
                                   filter_mode="post")
    u = {(r["qid"], r["docno"]) for r in unf.collect()}
    p = {(r["qid"], r["docno"]) for r in post.collect()}
    assert p <= u
    assert len(p) < 3 * k          # the filter bit somewhere
    assert post.filter(F.col("docno") % 2 == 0).count() == 0

    # (3) wide-open convergence: both modes == brute filtered exact
    emb = _emb_df(spark, ids)
    brute = (emb.filter(F.col("docno") % 2 == 1)
             .crossJoin(queries.select(F.col("qid"),
                                       F.col("embedding").alias("qv")))
             .select("qid", "docno",
                     F.round(cosine_expr(F.col("embedding"),
                                         F.col("qv")), 6)
                     .alias("cosine")))
    wb = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                           F.desc("docno"))
    brute_k = (brute.withColumn("rank", F.row_number().over(wb))
               .filter(F.col("rank") <= k)
               .select("qid", "docno", "cosine",
                       F.col("rank").cast("int").alias("rank")))
    want_b = sorted(map(tuple, brute_k.collect()))
    for mode in ("pre", "post"):
        got = dinc.indexed_ivfpq_topk(
            queries, idx, k=k, nprobe=8, refine=len(ids),
            filter_docs=allow, filter_mode=mode)
        assert sorted(map(tuple, got.collect())) == want_b, mode

    # indexed_ann_topk pre-filter: ≡ wide-k unfiltered, filtered,
    # re-ranked (exact over the probed lists)
    aft = dinc.indexed_ann_topk(queries, idx, k=k, nprobe=2,
                                filter_docs=allow)
    awide = dinc.indexed_ann_topk(queries, idx, k=len(ids), nprobe=2)
    want_a = (awide.filter(F.col("docno") % 2 == 1)
              .withColumn("rank", F.row_number().over(wb))
              .filter(F.col("rank") <= k)
              .select("qid", "docno", "cosine",
                      F.col("rank").cast("int").alias("rank")))
    assert sorted(map(tuple, aft.collect())) \
        == sorted(map(tuple, want_a.collect()))

    # unknown mode refuses loudly
    with pytest.raises(ValueError, match="filter_mode"):
        dinc.indexed_ivfpq_topk(queries, idx, filter_docs=allow,
                                filter_mode="during")


@pytest.mark.slow
def test_hybrid_mlt_operator_composes_legs(spark, tmp_path):
    """r12 hybrid retrieval API (operators/hybrid.py): the fused output
    must equal rrf_fusion of the two leg functions run separately, the
    self-match must be absent from both legs and the fusion, and each
    leg must fill k when the corpus allows."""
    from hadoop_ir_spark.operators import evaluate, hybrid

    ids = list(range(0, 30))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    dinc.train_ann_index(spark, idx, every=5)
    dinc.train_pq_index(spark, idx)

    docs = _docs_for(spark, ids)
    queries = _emb_df(spark, [0, 7, 14]).select(
        F.col("docno").alias("qid"), "embedding")
    k = 4
    fused = hybrid.hybrid_mlt_topk(docs, queries, idx, k=k, n_terms=5,
                                   nprobe=3, refine=12)
    rows = fused.collect()
    assert all(r["docno"] != r["qid"] for r in rows)
    assert fused.groupBy("qid").count().filter(
        F.col("count") > k).count() == 0

    txt = hybrid.bm25_mlt_run(docs, queries.select("qid"), k=k,
                              n_terms=5).select("qid", "docno", "rank")
    vec = hybrid.ivfpq_mlt_run(queries, idx, k=k, nprobe=3,
                               refine=12).select("qid", "docno", "rank")
    assert txt.filter(F.col("docno") == F.col("qid")).count() == 0
    assert vec.filter(F.col("docno") == F.col("qid")).count() == 0
    want = evaluate.rrf_fusion([txt, vec], k=k, c=60).select(
        "qid", "docno", "rrf",
        F.col("rank").cast("int").alias("rank"))
    assert sorted(map(tuple, fused.collect())) \
        == sorted(map(tuple, want.collect()))
    # the vector leg fills k (30 vectors, nprobe 3 of 6 lists)
    assert vec.groupBy("qid").count().filter(
        F.col("count") == k).count() == 3


def test_sq_index_fold_equals_rebuild(spark, tmp_path):
    """r12 SQ8: train_sq_index persists per-dim bounds + code arrays;
    folding new vectors must equal encoding the UNION corpus against
    the SAME frozen bounds (the O(snapshot) claim's correctness half),
    and indexed_sq_topk must equal the session-side decode + cosine
    top-k over those codes. Out-of-range folds must CLIP (codes stay
    in [0, 255])."""
    from hadoop_ir_spark.operators.dedup import cosine_expr
    from pyspark.sql import Window

    old_ids = list(range(0, 20))
    new_ids = list(range(20, 30))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, old_ids), idx,
                           embeddings=_emb_df(spark, old_ids))
    dinc.train_sq_index(spark, idx)
    man = dinc._read_manifest(idx)
    assert man["sq"]["bounds_snap"] == 1 \
        and man["sq"]["code_snaps"] == [1] \
        and man["sq"]["dims"] == 8

    dinc.update_dedup_index(spark, idx, _docs_for(spark, new_ids),
                            new_embeddings=_emb_df(spark, new_ids))
    man = dinc._read_manifest(idx)
    assert man["sq"]["code_snaps"] == [1, 2]

    lo, hi, _ = dinc._sq_bound_arrays(
        dinc._sq_bounds_frame(spark, idx, man))
    union = _emb_df(spark, old_ids + new_ids)
    want_codes = sorted(
        (r["docno"], tuple(r["codes"]))
        for r in dinc._sq_encode_docs(union, lo, hi).collect())
    got_codes = sorted(
        (r["docno"], tuple(r["codes"]))
        for r in dinc.load_dedup_index(spark, idx)["sq_codes"].collect())
    assert got_codes == want_codes
    assert all(0 <= c <= 255 for _, cs in got_codes for c in cs)
    # the fold clipped: new vectors exceed the standing range somewhere
    folded = dict(got_codes)
    assert any(c in (0, 255) for i in new_ids for c in folded[i])

    queries = spark.createDataFrame(
        [(100, _vec(3)), (101, _vec(27))],
        "qid long, embedding array<double>")
    got = sorted(map(tuple, dinc.indexed_sq_topk(
        queries, idx, k=5).collect()))
    dec = dinc._sq_encode_docs(union, lo, hi).select(
        "docno", dinc._sq_decode_expr(F.col("codes"), lo, hi).alias("xh"))
    q = queries.select("qid", F.col("embedding").alias("qv"))
    sc = dec.crossJoin(F.broadcast(q)).select(
        "qid", "docno",
        F.round(cosine_expr(F.col("xh"), F.col("qv")), 6).alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                          F.desc("docno"))
    want = sorted(map(tuple, sc.withColumn(
        "rank", F.row_number().over(w)).filter(F.col("rank") <= 5)
        .collect()))
    assert got == want and len(got) == 10


@pytest.mark.slow
def test_sq_index_retraction_compaction_and_maintain(spark, tmp_path):
    """r12 SQ8 store discipline: tombstones retract code rows; the
    compaction merge carries tables, manifest block AND the src-tag
    fold_fraction; ann_health reports the sq section; a health-driven
    maintain retrains the bounds and resets the drift to zero; the
    degenerate single-value dimension encodes 0."""
    ids = list(range(0, 16))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    dinc.train_sq_index(spark, idx)
    dinc.update_dedup_index(spark, idx, _docs_for(spark, [20, 21]),
                            new_embeddings=_emb_df(spark, [20, 21]))
    dinc.update_dedup_index(spark, idx,
                            removed_docs=_docs_for(spark, [5, 20]))

    h = dinc.ann_health(spark, idx)
    assert h["sq"]["n_encoded"] == 16   # 16 + 2 - 2
    assert h["sq"]["fold_fraction"] == round(1 / 16, 3)
    assert h["recommendation"] == "none"

    queries = spark.createDataFrame(
        [(100, _vec(2))], "qid long, embedding array<double>")
    pre = sorted(map(tuple, dinc.indexed_sq_topk(
        queries, idx, k=20).collect()))
    assert {5, 20}.isdisjoint({r[1] for r in pre})

    dinc.compact_dedup_index(spark, idx)
    man = dinc._read_manifest(idx)
    assert man["sq"]["code_snaps"] == [man["sq"]["bounds_snap"]]
    post = sorted(map(tuple, dinc.indexed_sq_topk(
        queries, idx, k=20).collect()))
    assert post == pre
    h2 = dinc.ann_health(spark, idx)
    assert h2["sq"] == h["sq"]   # compaction-proof provenance

    out = dinc.maintain_dedup_index(
        spark, idx, ann_health_kwargs={"fold_retrain_threshold": 0.05})
    assert "sq_retrain" in out["actions"]
    assert out["ann"]["sq"]["fold_fraction"] == round(1 / 16, 3)
    h3 = dinc.ann_health(spark, idx)
    assert h3["sq"]["fold_fraction"] == 0.0

    # degenerate dimension: constant column encodes 0 everywhere
    idx2 = str(tmp_path / "idx2")
    const = spark.createDataFrame(
        [(i, [1.5, float(i)]) for i in range(4)],
        "docno long, embedding array<double>")
    dinc.build_dedup_index(_docs_for(spark, list(range(4))), idx2,
                           embeddings=const)
    dinc.train_sq_index(spark, idx2)
    codes = {r["docno"]: r["codes"] for r in dinc.load_dedup_index(
        spark, idx2)["sq_codes"].collect()}
    assert all(cs[0] == 0 for cs in codes.values())
    assert codes[0][1] == 0 and codes[3][1] == 255


def test_ivfsq_equals_sq_restricted_to_probed(spark, tmp_path):
    """r12 IVF+SQ8 composition: indexed_ivfsq_topk must equal the flat
    SQ scan restricted to the probed candidate set (filter_docs makes
    the restriction expressible), and with the probe wide open it must
    equal the flat scan exactly."""
    ids = list(range(0, 30))
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, ids), idx,
                           embeddings=_emb_df(spark, ids))
    dinc.train_ann_index(spark, idx, every=5)
    dinc.train_sq_index(spark, idx)
    queries = spark.createDataFrame(
        [(100, _vec(3)), (101, _vec(27))],
        "qid long, embedding array<double>")

    wide = sorted(map(tuple, dinc.indexed_ivfsq_topk(
        queries, idx, k=6, nprobe=6).collect()))
    flat = sorted(map(tuple, dinc.indexed_sq_topk(
        queries, idx, k=6).collect()))
    assert wide == flat

    # narrow probe: per-query equality against the flat scan restricted
    # to that query's probed lists
    man = dinc._read_manifest(idx)
    cents = dinc._ann_centroid_frame(spark, idx, man)
    assign = dinc.load_dedup_index(spark, idx)["ann_assign"]
    narrow = dinc.indexed_ivfsq_topk(queries, idx, k=6, nprobe=2)
    for qid, vec in ((100, _vec(3)), (101, _vec(27))):
        one = spark.createDataFrame(
            [(qid, vec)], "qid long, embedding array<double>")
        from hadoop_ir_spark.operators.dedup import cosine_expr
        sims = sorted(((r["centroid_id"],
                        round(sum(a * b for a, b in zip(vec, r["cv"]))
                              / ((sum(a * a for a in vec) ** 0.5)
                                 * (sum(b * b for b in r["cv"]) ** 0.5)),
                              9))
                       for r in cents.collect()),
                      key=lambda t: (-t[1], t[0]))
        probed = {c for c, _ in sims[:2]}
        allow = assign.filter(F.col("centroid_id").isin(probed)) \
            .select("docno")
        want = sorted(map(tuple, dinc.indexed_sq_topk(
            one, idx, k=6, filter_docs=allow).collect()))
        got = sorted(map(tuple, narrow.filter(
            F.col("qid") == qid).collect()))
        assert got == want, qid


# ---------------------------------------------------------------------------
# concurrent snapshot writes and the one-scan snapshot read
# ---------------------------------------------------------------------------

def _tmp_dirs(idx):
    import os

    return [os.path.join(t, e) for t in os.listdir(idx)
            if os.path.isdir(os.path.join(idx, t))
            for e in os.listdir(os.path.join(idx, t)) if ".tmp-" in e]


def test_failed_table_write_aborts_the_whole_snapshot(spark, tmp_path,
                                                      snapshots,
                                                      monkeypatch):
    """A fold whose write of ONE table fails must settle every other
    in-flight write before it aborts: no staged dir survives (not even
    one a slower sibling write finishes after the failure), the manifest
    is byte-identical, and the store still folds cleanly afterwards."""
    import os
    import time

    old, new = snapshots
    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_df(spark, old), idx)
    man_path = os.path.join(idx, dinc.MANIFEST)
    with open(man_path, "rb") as f:
        man_before = f.read()
    orig_write = dinc._SnapAttempt.write
    slow_done = []

    def failing(self, df, table):
        if table == "band_keys":
            raise OSError("disk full while staging band_keys")
        if table == "content_hashes":
            time.sleep(1.0)            # still running when band_keys fails
            orig_write(self, df, table)
            slow_done.append(table)
            return
        orig_write(self, df, table)

    monkeypatch.setattr(dinc._SnapAttempt, "write", failing)
    with pytest.raises(OSError, match="disk full"):
        dinc.update_dedup_index(spark, idx, _df(spark, new),
                                removed_docs=_df(spark, [old[0]]))
    assert slow_done == ["content_hashes"]    # waited for, not orphaned
    assert not _tmp_dirs(idx)
    time.sleep(1.5)
    assert not _tmp_dirs(idx), "a write landed after the abort"
    with open(man_path, "rb") as f:
        assert f.read() == man_before
    monkeypatch.setattr(dinc._SnapAttempt, "write", orig_write)
    dinc.update_dedup_index(spark, idx, _df(spark, new),
                            removed_docs=_df(spark, [old[0]]))
    scratch = str(tmp_path / "scratch")
    dinc.build_dedup_index(_df(spark, old[1:] + new), scratch)
    a, b = _index_content(spark, idx), _index_content(spark, scratch)
    for t in b:
        assert a[t] == b[t], t


def test_union_snaps_is_one_scan(spark, tmp_path, monkeypatch):
    """Every visible snap dir of a table is read by ONE parquet scan; a
    missing dir and an attempt's ``.tmp-`` dir are never read, and
    ``_snap`` is the snap id each row was written at."""
    import shutil

    import pyspark.sql.readwriter as rw

    idx = str(tmp_path / "idx")
    dinc.build_dedup_index(_docs_for(spark, [1, 2]), idx)
    dinc.update_dedup_index(spark, idx, _docs_for(spark, [3]))
    dinc.update_dedup_index(spark, idx, _docs_for(spark, [4, 5]))
    tdir = tmp_path / "idx" / "content_hashes"
    shutil.copytree(tdir / "snap=0", tdir / "snap=3.tmp-0123456789ab")
    calls = []
    orig = rw.DataFrameReader.parquet

    def spying(self, *paths, **kw):
        calls.append(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(rw.DataFrameReader, "parquet", spying)
    df = dinc._union_snaps(spark, idx, "content_hashes", [0, 1, 2, 7])
    got = sorted((r["docno"], r["_snap"]) for r in df.collect())
    assert len(calls) == 1, calls
    assert got == [(1, 0), (2, 0), (3, 1), (4, 2), (5, 2)]
    assert dinc._union_snaps(spark, idx, "content_hashes", [7]) is None


def test_union_snaps_fills_columns_missing_from_older_dirs(spark, tmp_path):
    """An ``ann_assign`` dir written before the ``src`` provenance column
    existed unions with a newer one; its rows surface ``src`` as null."""
    idx = str(tmp_path / "idx")
    dinc._write_snap_table(
        spark.createDataFrame([(1, 0), (2, 1)], "docno long, centroid_id int"),
        idx, dinc.ANN_ASSIGN, 0)
    dinc._write_snap_table(
        spark.createDataFrame([(3, 1, "fold")],
                              "docno long, centroid_id int, src string"),
        idx, dinc.ANN_ASSIGN, 1)
    df = dinc._union_snaps(spark, idx, dinc.ANN_ASSIGN, [0, 1])
    assert sorted(map(tuple, df.select("docno", "centroid_id", "src",
                                       "_snap").collect()),
                  key=lambda t: t[0]) == [
        (1, 0, None, 0), (2, 1, None, 0), (3, 1, "fold", 1)]
