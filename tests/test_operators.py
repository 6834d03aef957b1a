"""Operator-level unit tests (dedup/similarity/textstats/multimodal)."""

from __future__ import annotations

from pyspark.sql import functions as F

from extractor.operators.multimodal import resize_dims
from tests.conftest import SF_TINY

# vectors verified against the reference's _calculate_new_size
# (image_compressor.py:45-68) by differential test (200k random dims,
# 0 mismatches)
RESIZE_VECTORS = [
    ((100, 100), (100, 100)),          # no-op under the cap
    ((2048, 2048), (2048, 2048)),      # exactly at the cap
    ((4096, 2048), (2048, 1024)),      # width-major
    ((2048, 4096), (1024, 2048)),      # height-major
    ((187, 3510), (109, 2047)),        # float truncation: larger side 2047!
    ((3000, 3000), (2048, 2048)),      # square (width>height false → /height)
    ((1, 9000), (0, 2048)),            # degenerate: truncates to 0 (reference does too)
]


def test_resize_vectors():
    for (w, h), expected in RESIZE_VECTORS:
        assert resize_dims(w, h) == expected, (w, h)


def test_plan_compress_mode_decisions():
    """T1 mode normalization (reference image_compressor.py:179-191):
    alpha-carrying modes flatten onto white, exotic modes convert to
    RGB, RGB/L pass through — pinned without PIL."""
    from extractor.operators.multimodal import plan_compress

    for mode in ("RGBA", "LA", "P"):
        assert plan_compress(mode, 10, 10)[0] == "flatten_white", mode
    for mode in ("CMYK", "I", "F", "1", "YCbCr", "I;16"):
        assert plan_compress(mode, 10, 10)[0] == "to_rgb", mode
    for mode in ("RGB", "L"):
        assert plan_compress(mode, 10, 10)[0] == "keep", mode
    # resize decision rides the same plan (T2 vectors above)
    for (w, h), expected in RESIZE_VECTORS:
        _, resize_to = plan_compress("RGB", w, h)
        assert resize_to == (None if expected == (w, h) else expected), (w, h)


class _FakeImg:
    """Duck-typed PIL image recording the operation sequence."""

    def __init__(self, mode, size, log=None):
        self.mode, self.size = mode, size
        self.log = log if log is not None else []

    def convert(self, mode):
        self.log.append(("convert", mode))
        return _FakeImg(mode, self.size, self.log)

    def split(self):
        self.log.append(("split",))
        return [_FakeImg("L", self.size, self.log)] * (4 if self.mode == "RGBA" else 2)

    def paste(self, im, mask=None):
        self.log.append(("paste", im.mode, mask is not None))

    def resize(self, size, resample):
        self.log.append(("resize", size, resample))
        return _FakeImg(self.mode, size, self.log)

    def save(self, buf, format=None, **kw):
        self.log.append(("save", format, kw.get("quality"), kw.get("optimize")))
        buf.write(b"JPEG:" + f"{self.mode}:{self.size}".encode())


class _FakeImageMod:
    """Fake PIL ``Image`` module sharing one op log with the images it
    creates, so the full flatten sequence is observable."""

    LANCZOS = "LANCZOS"

    def __init__(self, log):
        self.log = log

    def new(self, mode, size, color):
        self.log.append(("new", mode, size, color))
        return _FakeImg(mode, size, self.log)


def test_apply_compress_plan_flatten_sequence():
    """The PIL shim must composite alpha onto a white RGB background
    via the mask paste, then resize, then save JPEG q85 optimized —
    the reference sequence (image_compressor.py:179-199), pinned with
    a fake Image module (no PIL in this sandbox)."""
    from extractor.operators.multimodal import apply_compress_plan

    im = _FakeImg("RGBA", (4096, 2048))
    out = apply_compress_plan(im, "flatten_white", (2048, 1024), _FakeImageMod(im.log))
    assert out == b"JPEG:RGB:(2048, 1024)"
    log = im.log
    assert ("convert", "RGBA") in log
    assert any(op[0] == "new" and op[1] == "RGB" and op[3] == (255, 255, 255) for op in log)
    assert ("paste", "RGBA", True) in log, "alpha mask paste missing"
    assert ("resize", (2048, 1024), "LANCZOS") in log
    assert log[-1] == ("save", "JPEG", 85, True)
    # paste happens before resize (flatten at original size)
    assert log.index(("paste", "RGBA", True)) < log.index(("resize", (2048, 1024), "LANCZOS"))


def test_apply_compress_plan_keep_and_convert():
    from extractor.operators.multimodal import apply_compress_plan

    im = _FakeImg("L", (100, 100))
    assert apply_compress_plan(im, "keep", None, _FakeImageMod(im.log)) == b"JPEG:L:(100, 100)"
    assert im.log == [("save", "JPEG", 85, True)]

    im = _FakeImg("CMYK", (10, 10))
    assert apply_compress_plan(im, "to_rgb", None, _FakeImageMod(im.log)) == b"JPEG:RGB:(10, 10)"
    assert im.log[0] == ("convert", "RGB")


def test_compress_image_passthrough_on_undecodable():
    """Reference parity: undecodable bytes pass through unchanged
    (compress_image_bytes 'using original', image_compressor.py:
    215-222) — the model call downstream is what fails the row."""
    from extractor.operators.multimodal import compress_image

    payload = b"IMG 640x480\nhello"
    out, w, h, ow, oh = compress_image(payload)
    assert out == payload and (w, h) == (640, 480) and (ow, oh) == (640, 480)


def test_minhash_properties(spark):
    from extractor.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z w v u t s")],
        ["id", "text"],
    )
    rows = {r["id"]: r["sig"] for r in minhash_signatures(df, "id", "text").collect()}
    assert rows[1] == rows[2], "identical text → identical signature"
    assert rows[1] != rows[3], "different text → different signature"
    assert len(rows[1]) == 16 and all(0 <= v < 2_147_483_647 for v in rows[1])


def test_lsh_finds_near_dups_not_distinct(spark):
    from extractor.operators.dedup import lsh_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely unrelated words here now ok")],
        ["id", "text"],
    )
    pairs = {(r["a"], r["b"]) for r in lsh_pairs(df, "id", "text", threshold=0.4).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_df_close_for_near_dups(spark):
    from extractor.operators.dedup import simhash32_df

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base + " lambda"), (3, "one two three four five six seven")],
        ["id", "text"],
    )
    rows = {r["id"]: r["simhash"] for r in simhash32_df(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(rows[1], rows[2]) < ham(rows[1], rows[3])


def test_simhash_hamming_pairs_pigeonhole_complete(spark):
    """Blocked pairs == naive all-pairs at the same radius (the Manku
    pigeonhole guarantee is EXACT, not approximate), and a clearly
    unrelated doc never pairs."""
    from extractor.operators.dedup import simhash32_df, simhash_hamming_pairs

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    rows = [(1, base), (2, base + " psi"), (3, base + " omega extra"),
            (4, "completely different words entirely unrelated content here now")]
    df = spark.createDataFrame(rows, ["id", "text"])

    got = {(r["a"], r["b"]): r["hamming"]
           for r in simhash_hamming_pairs(df, max_hamming=3).collect()}

    sigs = {r["id"]: r["simhash"] for r in simhash32_df(df).collect()}
    ids = sorted(sigs)
    naive = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    assert got == naive, "pigeonhole blocking must lose no pair within radius"
    assert all(4 not in p for p in got), "unrelated doc must not pair"


def test_simhash_hamming_pairs_rejects_bad_params(spark):
    import pytest as _pytest

    from extractor.operators.dedup import simhash_hamming_pairs

    df = spark.createDataFrame([(1, "a b c")], ["id", "text"])
    with _pytest.raises(ValueError):
        simhash_hamming_pairs(df, max_hamming=4, n_chunks=4)
    with _pytest.raises(ValueError):
        simhash_hamming_pairs(df, n_chunks=5)


def test_fingerprint_is_order_sensitive(spark):
    from extractor.operators.textstats import fingerprint

    df = spark.createDataFrame([(1, "a b c"), (2, "c b a")], ["id", "text"])
    rows = {r["id"]: r["fp"] for r in df.select("id", fingerprint(F.col("text")).alias("fp")).collect()}
    assert rows[1] != rows[2], "token order must matter (rolling hash)"


def test_frame_sample_plumbing(spark):
    from extractor.operators.multimodal import frame_sample

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").limit(20).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    frames = frame_sample(docs, id_col="doc_id", bin_col="payload", every=1).collect()
    assert frames
    by_id = {}
    for r in frames:
        by_id.setdefault(r["id"], []).append(r["frame_no"])
    for fid, nos in by_id.items():
        assert nos == sorted(nos)
        assert nos[0] == 0


def test_multimodal_meta_null_safe(spark):
    from extractor.operators.multimodal import image_meta

    df = spark.createDataFrame([(1, b"abc"), (2, None)], "doc_id long, payload binary")
    rows = {r["id"]: r for r in image_meta(df).collect()}
    assert rows[2]["width"] is None and rows[2]["n_bytes"] == 0
    assert rows[1]["width"] is not None and rows[1]["digest"] is not None


def test_connected_components_merges_transitive_chains(spark):
    from extractor.operators.dedup import connected_components

    # two components: {1,2,3,4} via a chain (diameter 3, needs
    # multiple propagation rounds) and {10, 11}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["a", "b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_cycle_terminates(spark):
    from extractor.operators.dedup import connected_components

    edges = spark.createDataFrame([(5, 6), (6, 7), (7, 5)], ["a", "b"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    assert got == {5: 5, 6: 5, 7: 5}


def test_short_docs_survive_ansi_mode(spark):
    """0/1/2-word docs must not throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    under PySpark 4.x ANSI mode (tail shingle accesses past the array
    end go through try_element_at → null → 0, the oracle semantics)."""
    from extractor.operators.dedup import (
        lsh_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        simhash32_df,
    )

    df = spark.createDataFrame(
        [(1, "solo"), (2, "two words"), (3, "now three words"), (4, "solo")],
        ["id", "text"],
    )
    sigs = {r["id"]: r["sig"] for r in minhash_signatures(df, "id", "text").collect()}
    assert set(sigs) == {1, 2, 3, 4}
    assert sigs[1] == sigs[4], "identical 1-word docs → identical signature"
    # candidate generation end-to-end on short docs
    pairs = {(r["a"], r["b"]) for r in lsh_pairs(df, "id", "text", threshold=0.9).collect()}
    assert (1, 4) in pairs
    blocked = df.withColumn("blk", F.lit(0))
    jac = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(blocked, ["blk"], "id", "text", threshold=0.5).collect()
    }
    assert jac[(1, 4)] == 1.0
    assert simhash32_df(df, "id", "text").count() == 4


def test_ngram_jaccard_stop_shingle_cap(spark):
    """max_df prunes hot shingles from candidate generation but the
    reported Jaccard values stay EXACT (candidate+verify): on a fixture
    where every true near-dup pair shares at least one rare shingle,
    capped == uncapped."""
    from extractor.operators.dedup import ngram_jaccard_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    common = "the quick brown common filler words here"  # shared by all
    rows = [
        (1, f"{common} {base}"),
        (2, f"{common} {base} tail"),              # near-dup of 1
        (3, f"{common} totally different content list items now"),
        (4, f"{common} another unrelated document body text words"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"]).withColumn("blk", F.lit(0))
    exact = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, ["blk"], "id", "text", threshold=0.3).collect()
    }
    capped = {
        (r["a"], r["b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, ["blk"], "id", "text", threshold=0.3, max_df=3
        ).collect()
    }
    assert (1, 2) in exact
    assert capped == exact


def test_grouped_topk_equals_naive(spark):
    """Randomized (seeded) equivalence: the bounded two-level top-k
    equals a plain sort-and-head per group, for several bucket counts
    (the result must be independent of B)."""
    import random

    from extractor.operators.topk import grouped_topk

    rng = random.Random(42)
    rows = [
        (f"g{rng.randrange(5)}", rng.randrange(10_000)) for _ in range(5_000)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    naive = {}
    for g, v in rows:
        naive.setdefault(g, []).append(v)
    want = {g: sorted(vs)[:7] for g, vs in naive.items()}
    for b in (1, 4, 32):
        got = {
            r["g"]: list(r["topk"])
            for r in grouped_topk(df, ["g"], F.col("v"), k=7, n_buckets=b).collect()
        }
        assert got == want, f"n_buckets={b}"
    # with_count rides the same aggregation
    counted = {
        r["g"]: r["n_rows"]
        for r in grouped_topk(
            df, ["g"], F.col("v"), k=7, with_count=True
        ).collect()
    }
    assert counted == {g: len(vs) for g, vs in naive.items()}


def test_ngram_jaccard_cap_recall_edge_documented(spark):
    """The documented recall edge of the max_df cap: a pair whose
    ENTIRE overlap is stop-shingles is missed by the capped path
    (and only that pair — such pairs are not near-duplicates)."""
    from extractor.operators.dedup import ngram_jaccard_pairs

    stop = "aaa bbb ccc ddd eee"  # shingles shared by ALL docs -> df=4
    rows = [
        (1, f"{stop} unique one xx"),
        (2, f"{stop} unique one yy"),   # overlaps 1 beyond the stop run
        (3, f"{stop} other tail zz"),   # overlaps others ONLY via stop run
        (4, f"{stop} other tail qq"),   # overlaps 3 beyond the stop run
    ]
    df = spark.createDataFrame(rows, ["id", "text"]).withColumn("blk", F.lit(0))
    exact = {
        (r["a"], r["b"])
        for r in ngram_jaccard_pairs(df, ["blk"], "id", "text", threshold=0.15).collect()
    }
    capped = {
        (r["a"], r["b"])
        for r in ngram_jaccard_pairs(
            df, ["blk"], "id", "text", threshold=0.15, max_df=2
        ).collect()
    }
    # pairs with non-stop overlap survive the cap
    assert (1, 2) in capped and (3, 4) in capped
    # stop-only pairs exist exactly (1,3)-style in the exact result and
    # are the ONLY thing the cap may lose
    assert capped <= exact
    for pair in exact - capped:
        assert pair not in {(1, 2), (3, 4)}


def test_incremental_lsh_dedup_equals_one_shot(spark, tmp_path):
    """Batched dedup against the committed band index must find exactly
    the one-shot pair set over the union, with identical estimates —
    and a crashed (uncommitted) batch must leave the index unchanged."""
    from extractor.operators.dedup import lsh_pairs
    from extractor.operators.incremental import incremental_lsh_dedup

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    )
    # inject dups across the batch boundary: copies of early docs with
    # ids landing in the SECOND batch
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(copies)
    b1 = corpus.filter(F.col("doc_id") < 250)
    b2 = corpus.filter(F.col("doc_id") >= 250)
    assert b1.count() > 0 and b2.count() > 0

    def key(rows):
        return {(r["a"], r["b"]): r["est_jaccard"] for r in rows}

    one_shot = key(lsh_pairs(corpus, threshold=0.5).collect())
    assert one_shot, "fixture must produce near-dup pairs"

    idx = str(tmp_path / "lsh_index")
    p1 = key(incremental_lsh_dedup(b1, idx, threshold=0.5).collect())
    # dry run (commit=False) must not advance the index
    from extractor.writer import committed_run_ids

    n_snapshots = len(committed_run_ids(idx))
    incremental_lsh_dedup(b2, idx, threshold=0.5, commit=False).collect()
    assert len(committed_run_ids(idx)) == n_snapshots
    p2 = key(incremental_lsh_dedup(b2, idx, threshold=0.5).collect())

    merged = dict(p1)
    merged.update(p2)
    assert merged == one_shot
    # cross-batch pairs actually exercised the history index
    cross = [k for k in p2 if (k[0] < 250) != (k[1] < 250)]
    assert cross, "expected pairs spanning the batch boundary"


def test_incremental_exact_dedup_batched_equals_one_shot(spark, tmp_path):
    """Three batches through the exact-digest index classify exactly
    like a one-shot first-occurrence pass with batch boundaries drawn
    in; commit=False leaves the index unchanged (replayable batch);
    the exactly-once two-step (commit_digests) matches commit=True."""
    from extractor.operators.incremental import (
        commit_digests,
        incremental_exact_dedup,
    )

    rows = [
        (1, "alpha"), (2, "beta"), (3, "alpha"),        # batch 1: dup in batch
        (10, "alpha"), (11, "gamma"), (12, "gamma"),    # batch 2: hist + in-batch
        (20, "beta"), (21, "delta"),                    # batch 3: hist + new
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batches = [df.filter(F.col("doc_id") < 10),
               df.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
               df.filter(F.col("doc_id") >= 20)]
    idx = str(tmp_path / "md5idx")

    got = {}
    b1 = incremental_exact_dedup(batches[0], idx).collect()
    # commit=False must NOT advance the index: a replay classifies
    # identically
    pre = incremental_exact_dedup(batches[1], idx, commit=False).collect()
    # then commit batch 2 via the exactly-once two-step
    d2 = incremental_exact_dedup(batches[1], idx, commit=False)
    d2 = d2.localCheckpoint(eager=True)
    commit_digests(
        d2.filter(F.col("status") == "new").select("digest", "id"), idx
    )
    assert sorted(map(tuple, pre)) == sorted(map(tuple, d2.collect()))
    b3 = incremental_exact_dedup(batches[2], idx).collect()
    for r in list(b1) + list(d2.collect()) + list(b3):
        got[r["id"]] = r["status"]

    assert got == {
        1: "new", 2: "new", 3: "dup_in_batch",
        10: "dup_of_history", 11: "new", 12: "dup_in_batch",
        20: "dup_of_history", 21: "new",
    }


def test_incremental_index_survives_compaction(spark, tmp_path):
    """Daily appends → many small snapshots; compact_snapshots must
    fold the band index without changing subsequent batch results
    (the writer's maintenance job works on non-extraction tables)."""
    from extractor.operators.dedup import lsh_pairs
    from extractor.operators.incremental import incremental_lsh_dedup
    from extractor.writer import committed_run_ids, compact_snapshots

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    )
    copies = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(copies)
    b1 = corpus.filter(F.col("doc_id") < 150)
    b2 = corpus.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 350))
    b3 = corpus.filter(F.col("doc_id") >= 350)

    def key(rows):
        return {(r["a"], r["b"]): r["est_jaccard"] for r in rows}

    idx = str(tmp_path / "idx")
    p1 = key(incremental_lsh_dedup(b1, idx, threshold=0.5).collect())
    p2 = key(incremental_lsh_dedup(b2, idx, threshold=0.5).collect())
    assert len(committed_run_ids(idx)) == 2
    assert compact_snapshots(spark, idx) is not None
    assert len(committed_run_ids(idx)) == 1  # folded
    p3 = key(incremental_lsh_dedup(b3, idx, threshold=0.5).collect())

    merged = {**p1, **p2, **p3}
    assert merged == key(lsh_pairs(corpus, threshold=0.5).collect())


def test_srp_multiband_recall_at_cos95(spark):
    """OR-amplified SRP recall at the function's OWN default threshold
    (ADVICE r3): a single 6-plane band keeps a cos=0.95 pair with
    probability (1-arccos(.95)/pi)^6 ~ 0.53 — about half the genuine
    pairs silently dropped.  Plant 200 pairs at exactly cos 0.95
    (partner = .95*v + sqrt(1-.95^2)*u, u orthonormal to v; natural
    cross-pair cosines at dim 64 are ~N(0, 1/64), far below 0.949) and
    require the 4-band default to recover >=85% while the single band
    demonstrably loses the mass the amplification exists to recover."""
    import numpy as np

    from extractor.operators.dedup import embedding_neardup_pairs_srp

    rng = np.random.RandomState(7)
    n = 200
    rows = []
    for i in range(n):
        v = rng.randn(64)
        v /= np.linalg.norm(v)
        u = rng.randn(64)
        u -= u.dot(v) * v
        u /= np.linalg.norm(u)
        w = 0.95 * v + np.sqrt(1 - 0.95 ** 2) * u
        rows.append((i, [float(x) for x in v]))
        rows.append((i + 10000, [float(x) for x in w]))
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    def recall(n_bands: int) -> float:
        pairs = embedding_neardup_pairs_srp(
            emb, threshold=0.949, n_bands=n_bands
        ).collect()
        planted = {(r["a"], r["b"]) for r in pairs if r["b"] == r["a"] + 10000}
        assert len(planted) == len(pairs)  # nothing but planted pairs
        return len(planted) / n

    r1, r4 = recall(1), recall(4)
    assert r4 >= 0.85, f"4-band recall {r4}"
    assert r4 > r1 + 0.15, f"amplification gain too small: {r1} -> {r4}"


def test_pagerank_dangling_modes(spark):
    """redistribute must conserve total rank mass (modulo integer
    truncation) where drop leaks it: on a star graph a->b, a->c (b, c
    dangling) the drop variant's total falls well below n*scale while
    the redistribute variant stays within integer-floor slack of it;
    both modes are deterministic and redistribute matches a driver-side
    replay of the integer recurrence."""
    from extractor.operators.webgraph import PR_SCALE, pagerank_int

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c")], "src: string, dst: string"
    )
    drop = {r["node"]: r["rank"] for r in pagerank_int(edges, iterations=3).collect()}
    rd = {
        r["node"]: r["rank"]
        for r in pagerank_int(edges, iterations=3, dangling="redistribute").collect()
    }
    n, scale = 3, PR_SCALE
    assert sum(drop.values()) < 0.8 * n * scale
    # integer floors lose < 1 unit per div, per node, per iteration
    assert sum(rd.values()) > n * scale - 3 * (n + 2)

    # driver-side replay of the exact integer recurrence
    base = 15 * scale // 100
    ranks = {v: scale for v in "abc"}
    for _ in range(3):
        share = (ranks["b"] + ranks["c"]) // n
        contrib_a = ranks["a"] // 2  # odeg(a) = 2
        ranks = {
            "a": base + 85 * share // 100,
            "b": base + 85 * (contrib_a + share) // 100,
            "c": base + 85 * (contrib_a + share) // 100,
        }
    assert rd == ranks

    import pytest

    with pytest.raises(ValueError):
        pagerank_int(edges, dangling="bogus")


def test_canonical_url_map_precedence(spark):
    """Precedence and normalization corners: resolved redirect beats
    rel=canonical beats self; unresolved redirects fall through;
    relative canonicals (with and without leading slash) resolve
    against the page's scheme+host; blank canonicals are ignored;
    every winner is lowercased with query/fragment stripped while the
    path keeps its case."""
    from extractor.operators.crawl import canonical_url_map

    pages = spark.createDataFrame(
        [
            ("https://A.Test/P/1?utm=x", None),
            ("https://a.test/p/2#frag", "HTTPS://Canon.TEST/A?q=1"),
            ("https://B.test/p/3", "/Canon/3"),
            ("https://b.test/p/4", "canon/4"),
            ("https://c.test/p/5", "   "),
            ("https://d.test/p/6", "/ignored"),
            ("https://e.test/p/7", None),
        ],
        "url string, rel_canonical string",
    )
    redirects = spark.createDataFrame(
        [
            ("https://d.test/p/6", "https://Final.Test/Land?s=1", 2, True),
            ("https://e.test/p/7", None, None, False),
        ],
        "url string, final_url string, hops int, resolved boolean",
    )
    got = {
        r["url"]: (r["canonical_url"], r["source"])
        for r in canonical_url_map(pages, redirects).collect()
    }
    assert got == {
        "https://A.Test/P/1?utm=x": ("https://a.test/P/1", "self"),
        "https://a.test/p/2#frag": ("https://canon.test/A", "rel_canonical"),
        "https://B.test/p/3": ("https://b.test/Canon/3", "rel_canonical"),
        "https://b.test/p/4": ("https://b.test/canon/4", "rel_canonical"),
        "https://c.test/p/5": ("https://c.test/p/5", "self"),
        "https://d.test/p/6": ("https://final.test/Land", "redirect"),
        "https://e.test/p/7": ("https://e.test/p/7", "self"),
    }
    # no redirect table at all -> pure canonical/self map, same schema
    no_r = {
        r["url"]: r["source"] for r in canonical_url_map(pages).collect()
    }
    assert no_r["https://d.test/p/6"] == "rel_canonical"


def test_top_duplicated_ngrams(spark):
    """Document frequency, not occurrences: an internally-repeated
    5-gram counts once per doc; singleton n-grams fall under
    min_docs; ranks are deterministic (count desc, text asc); short
    docs (< n words) don't blow up the sequence expression."""
    from extractor.operators.dedup import top_duplicated_ngrams

    share = "p q r s t"
    rows = [
        (1, f"{share} aaa bbb"),
        (2, f"zzz {share}"),
        (3, "m m m m m m m m m m"),   # internal repetition only
        (4, "m m m m m"),             # shares 'm m m m m' with doc 3
        (5, "too short"),             # < 5 words
    ]
    got = [
        (r["rank"], r["ngram"], r["n_docs"])
        for r in top_duplicated_ngrams(
            spark.createDataFrame(rows, "doc_id long, text string"), k=10
        ).collect()
    ]
    assert sorted(got) == [(1, "m m m m m", 2), (2, share, 2)]


def test_host_mirror_pairs(spark):
    """Mirror detection corners: a strict-subset mirror surfaces with
    directional containment 10000 on the subset side; a digest above
    the hot-host cap is excluded BEFORE the pair join (it would
    otherwise cross every host with every other); low-overlap pairs
    stay out; host_a < host_b ordering holds."""
    from extractor.operators.crawl import host_mirror_pairs

    rows = (
        # big.test: 4 pages; mir.test mirrors 3 of them
        [("big.test", f"d{i}") for i in range(4)]
        + [("mir.test", f"d{i}") for i in range(3)]
        # one stray shared page with other.test (low overlap)
        + [("other.test", "d0"), ("other.test", "x1"), ("other.test", "x2")]
        # hot digest on every host (cap 3 < 4 hosts -> excluded; d0 on
        # exactly 3 hosts stays)
        + [(h, "HOT") for h in ("big.test", "mir.test", "other.test", "z.test")]
        + [("z.test", "z1")]
    )
    pages = spark.createDataFrame(rows, "host string, digest string")
    got = {
        (r["host_a"], r["host_b"]): (
            r["shared"], r["n_a"], r["n_b"], r["cont_a_bp"], r["cont_b_bp"]
        )
        for r in host_mirror_pairs(
            pages, max_hosts_per_digest=3, min_containment_bp=9000
        ).collect()
    }
    # only the true mirror pair survives; HOT is excluded from counts
    assert got == {("big.test", "mir.test"): (3, 4, 3, 7500, 10000)}


def test_crawl_novelty_first_occurrence(spark):
    """Novelty counts digests by first crawl: repeats in later crawls
    are not new; within-crawl duplicate digests count once; an
    all-new first crawl scores 10000 bp."""
    from extractor.operators.crawl import crawl_novelty

    caps = spark.createDataFrame(
        [
            (0, "a"), (0, "b"), (0, "b"),   # crawl 0: a, b (dup collapses)
            (1, "a"), (1, "c"),             # crawl 1: a old, c new
            (2, "a"), (2, "b"), (2, "c"),   # crawl 2: nothing new
        ],
        "crawl_id long, digest string",
    )
    got = {
        r["crawl_id"]: (r["n_digests"], r["n_new"], r["novelty_bp"])
        for r in crawl_novelty(caps).collect()
    }
    assert got == {0: (2, 2, 10000), 1: (2, 1, 5000), 2: (3, 0, 0)}


def test_strip_template_lines(spark):
    """The apply half of host-template discovery: template lines
    vanish from every page of THEIR host only (another host keeps
    the same text), surviving lines keep original bytes and order,
    matching is on the trimmed form, and a page that was ALL
    template survives as '' instead of disappearing."""
    from extractor.operators.dedup import host_template_lines, strip_template_lines

    pages = spark.createDataFrame(
        [
            ("a", 1, "NAV\narticle one\nfooter  \nend 1"),
            ("a", 2, "  NAV\nsecond piece\nfooter\nend 2"),
            ("a", 3, "NAV\nthird text\nfooter"),
            ("a", 4, "NAV\nfooter"),  # all-template page
            ("b", 9, "NAV\nother host keeps this\nfooter"),
        ],
        "host string, doc_id long, text string",
    )
    tpl = host_template_lines(pages, min_pages=3, min_frac_bp=9000)
    assert sorted((r["host"], r["line"]) for r in tpl.collect()) == [
        ("a", "NAV"), ("a", "footer"),
    ]
    out = {
        (r["host"], r["id"]): r["text"]
        for r in strip_template_lines(pages, tpl).collect()
    }
    assert out[("a", 1)] == "article one\nend 1"
    assert out[("a", 2)] == "second piece\nend 2"  # trimmed-match, bytes kept
    assert out[("a", 3)] == "third text"
    assert out[("a", 4)] == ""  # survives empty, not dropped
    assert out[("b", 9)] == "NAV\nother host keeps this\nfooter"


def test_parse_robots_semantics(spark):
    """Grammar corners the RFC-9309-lite parser must hold: comments,
    CRLF, case-insensitive keys, exact-agent-beats-star (no union
    across tiers), consecutive UA lines sharing one group, empty
    Disallow = allow-all, colon-less junk, orphan rules before any
    group, NULL bodies — and the whole thing is ONE map pass (no
    Exchange in the executed plan)."""
    from extractor.operators.webgraph import (
        parse_robots,
        robots_crawl_delays,
        robots_disallow_rules,
    )

    rows = [
        ("a.test", "User-agent: *\r\nDISALLOW: /private/ # secret\r\n"
                   "Disallow: /tmp/\r\nCrawl-delay: 7\r\n"),
        ("b.test", "User-agent: graftbot\nDisallow: /only-bot/\n\n"
                   "User-agent: *\nDisallow: /everyone/\n"),
        ("c.test", "user-AGENT: foo\nUser-agent: *\nDisallow: /shared/\n"),
        ("d.test", "User-agent: other\nDisallow: /x/\n"),
        ("e.test", "User-agent: *\nDisallow:\nnoise line without colon\n"
                   "Crawl-delay: 0.5\n"),
        ("f.test", "Disallow: /orphan/\nUser-agent: *\nDisallow: /ok/\n"),
        ("g.test", None),
    ]
    df = spark.createDataFrame(rows, "host string, robots_txt string")
    parsed = parse_robots(df, agent="graftbot")
    got = sorted(tuple(r) for r in parsed.collect())
    assert got == [
        ("a.test", "crawl_delay", "7"),
        ("a.test", "disallow", "/private/"),
        ("a.test", "disallow", "/tmp/"),
        ("b.test", "disallow", "/only-bot/"),
        ("c.test", "disallow", "/shared/"),
        ("e.test", "crawl_delay", "0.5"),
        ("f.test", "disallow", "/ok/"),
    ]
    assert sorted(tuple(r) for r in robots_disallow_rules(parsed).collect()) == [
        ("a.test", "/private/"), ("a.test", "/tmp/"), ("b.test", "/only-bot/"),
        ("c.test", "/shared/"), ("f.test", "/ok/"),
    ]
    # ms conversion, fractional delays, max-wins collapse
    assert sorted(tuple(r) for r in robots_crawl_delays(parsed).collect()) == [
        ("a.test", 7000), ("e.test", 500),
    ]
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_trustrank_seeded_teleport(spark):
    """Three invariants of the seeded variant: (1) a component never
    linked FROM the seed-reachable web gets rank exactly 0 even when
    it self-endorses and links out (the link-spam demotion property);
    (2) seeds == all nodes degenerates to pagerank_int exactly, both
    dangling modes; (3) redistribute returns dangling mass to the
    seed set and matches a driver-side replay of the integer
    recurrence."""
    import pytest

    from extractor.operators.webgraph import PR_SCALE, pagerank_int, trustrank_int

    # trusted: a<->b; spam: x->y, y->x, x->a (out-link to trusted web)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x"), ("x", "a")],
        "src: string, dst: string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    tr = {r["node"]: r["rank"] for r in trustrank_int(edges, seeds, iterations=4).collect()}
    assert tr["x"] == 0 and tr["y"] == 0
    assert tr["a"] > 0 and tr["b"] > 0
    pr = {r["node"]: r["rank"] for r in pagerank_int(edges, iterations=4).collect()}
    assert pr["x"] > 0  # uniform teleport floors the farm; seeded starves it

    # seeds = every node ⇒ identical to pagerank, both modes
    all_nodes = spark.createDataFrame(
        [("a",), ("b",), ("x",), ("y",)], "node string"
    )
    for mode in ("drop", "redistribute"):
        want = {
            r["node"]: r["rank"]
            for r in pagerank_int(edges, iterations=3, dangling=mode).collect()
        }
        got = {
            r["node"]: r["rank"]
            for r in trustrank_int(
                edges, all_nodes, iterations=3, dangling=mode
            ).collect()
        }
        assert got == want

    # redistribute-to-seeds: star a->b, a->c with seed {a}; replay the
    # exact integer recurrence driver-side
    star = spark.createDataFrame([("a", "b"), ("a", "c")], "src: string, dst: string")
    seed_a = spark.createDataFrame([("a",)], "node string")
    rd = {
        r["node"]: r["rank"]
        for r in trustrank_int(star, seed_a, iterations=3, dangling="redistribute").collect()
    }
    scale = PR_SCALE
    base = 15 * scale // 100
    ranks = {"a": scale, "b": 0, "c": 0}
    for _ in range(3):
        share = ranks["b"] + ranks["c"]  # dm div |seeds|=1
        contrib_a = ranks["a"] // 2
        ranks = {
            "a": base + 85 * share // 100,
            "b": 85 * contrib_a // 100,
            "c": 85 * contrib_a // 100,
        }
    assert rd == ranks

    with pytest.raises(ValueError):
        trustrank_int(star, seed_a, dangling="bogus")
    # redistribute with no seed present in the graph is an error, not
    # silent mass loss
    ghost = spark.createDataFrame([("zzz",)], "node string")
    with pytest.raises(ValueError):
        trustrank_int(star, ghost, dangling="redistribute")


def test_host_edges_resolution(spark):
    """Absolute hrefs keep their own host (lowercased); relative hrefs
    resolve against the source page's host."""
    from extractor.operators.webgraph import host_edges

    links = spark.createDataFrame(
        [
            ("https://A.test/page/1", "https://B.TEST/x"),
            ("https://a.test/page/2", "/local/path"),
            ("http://c.test/", "HTTPS://A.test/y"),
        ],
        "src: string, dst: string",
    )
    got = {(r["src_host"], r["dst_host"]) for r in host_edges(links).collect()}
    assert got == {("a.test", "b.test"), ("a.test", "a.test"), ("c.test", "a.test")}


def test_unigram_surprisal_naive_equivalence(spark):
    """Seeded naive equivalence: the distributed inverse-frequency
    scoring equals a driver-side replay, and common-token text scores
    below rare-token text (the monotone property the quality cut
    thresholds on)."""
    import random

    from extractor.operators.textstats import unigram_surprisal

    rng = random.Random(3)
    common = ["the", "of", "and", "data", "spark"]
    docs = []
    for i in range(40):
        if i % 4 == 0:  # rare-vocabulary docs
            words = [f"tok{i}_{j}" for j in range(20)]
        else:
            words = [common[rng.randrange(len(common))] for _ in range(20)]
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id: long, text: string")

    cnt: dict = {}
    for _, t in docs:
        for w in t.split(" "):
            cnt[w] = cnt.get(w, 0) + 1
    n_total = sum(cnt.values())
    want = {}
    for i, t in docs:
        ws = t.split(" ")
        s = sum(n_total // cnt[w] for w in ws)
        want[i] = (len(ws), s, s // len(ws))

    got = {
        r["doc_id"]: (r["n_words"], r["surprisal_sum"], r["mean_surprisal"])
        for r in unigram_surprisal(df).collect()
    }
    assert got == want
    rare = [v[2] for k, v in got.items() if k % 4 == 0]
    fluent = [v[2] for k, v in got.items() if k % 4 != 0]
    assert min(rare) > max(fluent)


def test_crawl_delta_classification(spark):
    """Each of the four statuses appears and carries the right md5
    pairing on a hand-built two-crawl fixture."""
    from extractor.operators.crawl import crawl_delta

    old = spark.createDataFrame(
        [("u1", "alpha"), ("u2", "beta"), ("u3", "gamma")],
        "url: string, text: string",
    )
    new = spark.createDataFrame(
        [("u1", "alpha"), ("u2", "beta CHANGED"), ("u4", "delta")],
        "url: string, text: string",
    )
    got = {r["url"]: r for r in crawl_delta(old, new).collect()}
    assert {u: r["status"] for u, r in got.items()} == {
        "u1": "unchanged", "u2": "changed", "u3": "removed", "u4": "added"
    }
    assert got["u3"]["new_md5"] is None and got["u3"]["old_md5"] is not None
    assert got["u4"]["old_md5"] is None and got["u4"]["new_md5"] is not None
    assert got["u1"]["old_md5"] == got["u1"]["new_md5"]
    assert got["u2"]["old_md5"] != got["u2"]["new_md5"]


def test_latest_snapshot_determinism_and_span(spark):
    """Latest-wins picks the max ts; a deliberate ts TIE resolves by
    the struct comparison's payload fallthrough (max payload), not
    arbitrarily — plus capture-count and span stats."""
    from extractor.operators.crawl import latest_snapshot

    caps = spark.createDataFrame(
        [
            ("u1", 100, "v1"), ("u1", 300, "v3"), ("u1", 200, "v2"),
            ("u2", 100, "only"),
            ("u3", 100, "aaa"), ("u3", 100, "zzz"),  # tie on ts
        ],
        "url: string, crawl_ts: int, text: string",
    )
    got = {r["url"]: r for r in latest_snapshot(caps, ts_col="crawl_ts").collect()}
    assert got["u1"]["text"] == "v3"
    assert (got["u1"]["n_captures"], got["u1"]["first_ts"], got["u1"]["last_ts"]) == (3, 100, 300)
    assert got["u2"]["text"] == "only" and got["u2"]["n_captures"] == 1
    assert got["u3"]["text"] == "zzz"  # deterministic tie-break


def test_tfidf_topk_naive_equivalence(spark):
    """Seeded naive equivalence: distributed integer TF-IDF ==
    driver-side replay including the (score desc, token asc) ranking."""
    import random

    from extractor.operators.relevance import tfidf_topk

    rng = random.Random(11)
    vocab = ["the", "of", "spark", "web", "crawl", "rare1", "rare2", "x9"]
    docs = [
        (i, " ".join(vocab[rng.randrange(len(vocab))] for _ in range(15)))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id: long, text: string")

    tf: dict = {}
    for i, t in docs:
        for w in t.split(" "):
            tf[(i, w)] = tf.get((i, w), 0) + 1
    dfreq: dict = {}
    for (_, w) in tf:
        dfreq[w] = dfreq.get(w, 0) + 1
    n_docs = len(docs)
    want = {}
    for i, _ in docs:
        scored = sorted(
            ((-(c * (n_docs // dfreq[w])), w) for (d, w), c in tf.items() if d == i),
        )[:3]
        want[i] = [(r + 1, w, -neg) for r, (neg, w) in enumerate(scored)]

    got: dict = {}
    for r in tfidf_topk(df, k=3).collect():
        got.setdefault(r["doc_id"], []).append((r["rank"], r["token"], r["score"]))
    got = {k: sorted(v) for k, v in got.items()}
    assert got == want


def test_anchor_term_topk_resolution_and_floor(spark):
    """Relative hrefs resolve to the source host, absolute to their
    own; terms below min_count drop; ranking is (n desc, term asc)."""
    from extractor.operators.relevance import anchor_term_topk

    rows = [
        ("https://a.test/p1", "https://B.test/x", "Great Site"),
        ("https://a.test/p2", "https://b.test/y", "great stuff"),
        ("https://a.test/p3", "/local", "home page"),
        ("https://a.test/p4", "/other", "home page"),
        ("https://c.test/p5", "https://b.test/z", "one-off"),
    ]
    df = spark.createDataFrame(rows, "url: string, href: string, anchor_text: string")
    got = {}
    for r in anchor_term_topk(df, k=5, min_count=2).collect():
        got.setdefault(r["dst_host"], []).append((r["rank"], r["term"], r["n"]))
    assert got == {
        "b.test": [(1, "great", 2)],          # 'site'/'stuff'/'one-off' drop (n=1)
        "a.test": [(1, "home", 2), (2, "page", 2)],  # tie → alphabetical
    }


def test_cluster_keep_best_longest_wins(spark):
    """Per-cluster canonical = longest member; score tie → smallest
    doc_id; n_members counts the whole cluster."""
    from extractor.operators.dedup import cluster_keep_best

    cc = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id: long, cluster_id: long",
    )
    docs = spark.createDataFrame(
        [
            (1, "short"), (2, "the longest member here"), (3, "mid text"),
            (10, "same"), (11, "tied"),  # equal length → keep doc 10
        ],
        "doc_id: long, text: string",
    )
    got = {r["cluster_id"]: r for r in cluster_keep_best(cc, docs).collect()}
    assert got[1]["keep_doc_id"] == 2 and got[1]["n_members"] == 3
    assert got[1]["keep_score"] == len("the longest member here")
    assert got[10]["keep_doc_id"] == 10 and got[10]["n_members"] == 2


def test_detect_moves_pairs_removed_with_added(spark):
    """Moves = removed×added on equal md5; changed/unchanged urls and
    non-matching digests stay out; many-to-many digests all surface."""
    from extractor.operators.crawl import crawl_delta, detect_moves

    old = spark.createDataFrame(
        [("u1", "moved body"), ("u2", "kept"), ("u3", "gone forever"),
         ("u5", "moved body")],
        "url: string, text: string",
    )
    new = spark.createDataFrame(
        [("u2", "kept"), ("u4", "moved body"), ("u6", "brand new")],
        "url: string, text: string",
    )
    got = {(r["old_url"], r["new_url"]) for r in
           detect_moves(crawl_delta(old, new)).collect()}
    assert got == {("u1", "u4"), ("u5", "u4")}


def test_crawl_delta_self_is_all_unchanged(spark):
    """delta(C, C) must classify every url unchanged — the identity
    property any diff operator owes its caller."""
    from extractor.operators.crawl import crawl_delta

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        "text",
    )
    out = crawl_delta(docs, docs)
    assert out.filter(F.col("status") != "unchanged").count() == 0
    assert out.count() == docs.count()


def test_tfidf_topk_k_truncation_independence(spark):
    """tfidf(k=2) == the rank<=2 prefix of tfidf(k=3) — the same
    truncation-independence contract grouped_topk pins for buckets."""
    from extractor.operators.relevance import tfidf_topk

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    ).limit(100)
    k2 = {tuple(r) for r in tfidf_topk(docs, k=2).collect()}
    k3 = {tuple(r) for r in tfidf_topk(docs, k=3).filter(F.col("rank") <= 2).collect()}
    assert k2 == k3 and k2


def test_quality_buckets_terciles_and_ties(spark):
    """CCNet head/middle/tail: distinct scores split into clean
    terciles per language; tied scores all land in ONE bucket (the
    cumulative boundary), and a single-mass language is all head."""
    from extractor.operators.textstats import quality_buckets

    rows = [
        # lang 'a': scores 1..6 → head {1,2}, middle {3,4}, tail {5,6}
        *[(i, "a", s) for i, s in enumerate([1, 2, 3, 4, 5, 6])],
        # lang 'b': one mass point → everything head
        *[(10 + i, "b", 7) for i in range(5)],
        # lang 'c': tie straddling the first boundary: {1,1,1,9} —
        # cum(1)*3 = 9 >= 4 so 1 is head AND >= 8 = 2n so also t_mid;
        # 9 lands in tail
        (20, "c", 1), (21, "c", 1), (22, "c", 1), (23, "c", 9),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, mean_surprisal long")
    got = {
        r.doc_id: r.bucket for r in quality_buckets(df).collect()
    }
    assert [got[i] for i in range(6)] == [
        "head", "head", "middle", "middle", "tail", "tail"
    ]
    assert all(got[10 + i] == "head" for i in range(5))
    assert [got[i] for i in (20, 21, 22, 23)] == ["head", "head", "head", "tail"]


def test_compact_index_repairs_double_commit(spark, tmp_path):
    """At-least-once repair: committing the SAME batch twice (the
    crash-rerun shape) doubles the index's band rows; compact_index
    dedupes on (id, band_idx) during the fold, restoring exactly the
    single-commit contents — and probe results are identical before
    and after (duplicates only inflated join work, never pairs)."""
    from extractor.operators.dedup import banded_signatures
    from extractor.operators.incremental import (
        commit_band_rows,
        compact_index,
        incremental_lsh_dedup,
    )
    from extractor.writer import read_extracted

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select(
        "doc_id", "text"
    )
    b1 = docs.filter(F.col("doc_id") < 200)
    probe = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    idx = str(tmp_path / "idx")
    banded = banded_signatures(b1)
    commit_band_rows(banded, idx)
    single = read_extracted(spark, idx).count()
    commit_band_rows(banded, idx)  # the crash re-run
    assert read_extracted(spark, idx).count() == 2 * single

    def key(rows):
        return {(r["a"], r["b"]): r["est_jaccard"] for r in rows}

    before = key(incremental_lsh_dedup(probe, idx, threshold=0.5, commit=False).collect())
    assert before, "probe fixture must hit the index"

    assert compact_index(spark, idx) is not None
    assert read_extracted(spark, idx).count() == single
    after = key(incremental_lsh_dedup(probe, idx, threshold=0.5, commit=False).collect())
    assert after == before


def test_band_sweep_nesting(spark):
    """Structural candidate-set nesting across the band sweep
    (q_dedup_lsh_recall's dial): with nested band splits of one
    16-hash signature, a 2x8 band match means both its 4x4 halves
    match, and a 4x4 match means both its 8x2 halves match — so
    cand(b=2) <= cand(b=4) <= cand(b=8) as SETS, always.  This pins
    that the sweep measures the banding dial, not three unrelated
    hash functions."""
    from pyspark.sql import functions as F

    from extractor.operators.dedup import bands_from_sig, minhash_signatures, pairs_from_bands

    docs = (
        spark.read.parquet(f"{SF_TINY}/documents.parquet")
        .select("doc_id", "text")
    )
    # plant near-dups so candidate sets are non-trivial
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail edit")).alias("text"),
        )
    )
    sig = minhash_signatures(corpus, id_col="doc_id", text_col="text", k=16)
    sig = sig.localCheckpoint(eager=True)
    sets = {
        b: {
            (r["a"], r["b"])
            for r in pairs_from_bands(
                bands_from_sig(sig, k=16, bands=b), k=16, threshold=0.0
            ).collect()
        }
        for b in (2, 4, 8)
    }
    assert sets[2], "sweep degenerate: no candidates at b=2"
    assert sets[2] <= sets[4] <= sets[8]
    # and lsh_pairs == the composed split (refactor is behavior-preserving)
    from extractor.operators.dedup import lsh_pairs

    direct = {
        (r["a"], r["b"])
        for r in lsh_pairs(corpus, k=16, bands=4, threshold=0.0).collect()
    }
    assert direct == sets[4]


def test_assign_shards_partition_independent(spark):
    """Shard membership and within-shard order are pure functions of
    the id — identical under any input partitioning (the determinism
    a resumable 10^12-doc export rests on)."""
    from extractor.operators.packing import assign_shards

    docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").select("doc_id")

    def snapshot(df):
        rows = assign_shards(df, n_shards=4).collect()
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append((r["okey"], r["doc_id"]))
        return {s: sorted(v) for s, v in by_shard.items()}

    a = snapshot(docs.repartition(1))
    b = snapshot(docs.repartition(13, "doc_id"))
    assert a == b
    assert set(a) <= set(range(4))
    assert sum(len(v) for v in a.values()) == docs.count()


def test_duplicated_span_stats_planted_boilerplate(spark):
    """Docs sharing a planted tail show nonzero duplicated-gram
    coverage; a doc made of unique words shows zero; and internal
    repetition within ONE doc does not count as duplicated."""
    from pyspark.sql import functions as F

    from extractor.operators.dedup import duplicated_span_stats

    rows = [
        (1, "alpha beta gamma delta shared tail marker words here"),
        (2, "epsilon zeta eta theta shared tail marker words here"),
        (3, "unique only words that no other document carries ever"),
        (4, "loop loop loop loop loop loop loop loop loop loop"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in duplicated_span_stats(df).collect()}
    assert out[1]["n_dup_grams"] > 0 and out[2]["n_dup_grams"] > 0
    assert out[3]["n_dup_grams"] == 0
    # doc 4 repeats internally but shares nothing across docs
    assert out[4]["n_dup_grams"] == 0
    for r in out.values():
        assert 0 <= r["dup_coverage_x10000"] <= 10000


def test_robots_frontier_filter_semantics(spark):
    from extractor.operators.webgraph import robots_frontier_filter

    frontier = spark.createDataFrame(
        [
            ("https://A.test/private/x.html",),   # host case-folds, matches
            ("https://a.test/public/y.html",),    # same host, prefix misses
            ("https://b.test/private/z.html",),   # rule-less host: kept
            ("https://a.test/private",),          # prefix of the prefix: kept
        ],
        ["url"],
    )
    rules = spark.createDataFrame([("a.test", "/private/")], ["host", "path_prefix"])
    kept = {r.url for r in robots_frontier_filter(frontier, rules).collect()}
    assert kept == {
        "https://a.test/public/y.html",
        "https://b.test/private/z.html",
        "https://a.test/private",
    }


def test_resolve_redirects_semantics(spark):
    """Chains resolve with exact hop counts; cycles, self-loops and
    chains longer than max_hops come back (NULL, NULL, false);
    conflicting captures of one source collapse to min(dst)."""
    from extractor.operators.crawl import resolve_redirects

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"),              # a→b→c→d
            ("p", "q"), ("q", "p"),                          # 2-cycle
            ("x", "x"),                                      # self-loop
            ("l0", "l1"), ("l1", "l2"), ("l2", "l3"),
            ("l3", "l4"), ("l4", "l5"),                      # 5 hops
            ("dup", "z"), ("dup", "a"),                      # conflicting capture
        ],
        "url string, location string",
    )
    got = {
        r.url: (r.final_url, r.hops, r.resolved)
        for r in resolve_redirects(edges, max_hops=4).collect()
    }
    assert got["a"] == ("d", 3, True)
    assert got["c"] == ("d", 1, True)
    assert got["p"] == (None, None, False)
    assert got["q"] == (None, None, False)
    assert got["x"] == (None, None, False)
    assert got["l0"] == (None, None, False)  # 5 hops > max_hops=4
    assert got["l1"] == ("l5", 4, True)
    # min(dst) tie-break: 'a' < 'z', and the chain continues through a
    assert got["dup"] == ("d", 4, True)


def test_resolve_redirects_matches_naive_walk(spark):
    """Pointer doubling == the naive step-by-step walk on a seeded
    edge set mixing chains, merges and cycles (log2(K) compositions
    must compute exactly f^K's fixpoint, hop counts included)."""
    from extractor.operators.crawl import resolve_redirects

    # deterministic pseudo-random functional graph on 80 nodes
    n = 80
    edges = []
    for i in range(n):
        if (i * 2654435761) % 5 == 0:
            continue  # ~1/5 of nodes are terminals
        j = (i * 48271 + 11) % n
        edges.append((f"n{i}", f"n{j}"))
    max_hops = 8
    srcs = {s for s, _ in edges}
    nxt = dict(edges)

    # naive reference, cycle-safe via visited set
    def walk_ref(s):
        cur, hops, seen = s, 0, {s}
        while cur in nxt and hops < max_hops:
            cur = nxt[cur]
            hops += 1
            if cur in nxt and cur in seen:
                return (None, None, False)
            seen.add(cur)
        if cur in nxt:  # still a redirect source: cycle or too long
            return (None, None, False)
        return (cur, hops, True)

    expect = {s: walk_ref(s) for s in srcs}
    df = spark.createDataFrame(edges, "url string, location string")
    got = {
        r.url: (r.final_url, r.hops, r.resolved)
        for r in resolve_redirects(df, max_hops=max_hops).collect()
    }
    assert got == expect


def test_extract_metadata_grammar_corners():
    """The head-field parser through its grammar corners: tag/attr
    case, quote styles, attribute order, entity + whitespace titles,
    multi-token rel, first-wins, unclosed title, bytes input, None."""
    from extractor.html_extract import extract_metadata

    h = (
        '<!DOCTYPE html><HTML Lang="en-US"><HEAD>'
        "<TITLE>  First &amp;\n Only Title </TITLE><title>second ignored</title>"
        "<meta content='The desc' name='Description'>"
        "<meta name='description' content='dup ignored'>"
        '<LINK REL="stylesheet canonical" HREF="https://c.test/x">'
        "<meta property='OG:Title' content='OG T'>"
        "</HEAD><body><p>hi</p></body></html>"
    )
    assert extract_metadata(h) == {
        "title": "First & Only Title",
        "description": "The desc",
        "canonical": "https://c.test/x",
        "lang": "en-US",
        "og_title": "OG T",
    }
    empty = dict.fromkeys(
        ("title", "description", "canonical", "lang", "og_title")
    )
    assert extract_metadata("<p>no head</p>") == empty
    assert extract_metadata(None) == empty
    assert extract_metadata("<title>unclosed")["title"] == "unclosed"
    assert extract_metadata(b"<title>bytes \xc3\xa9</title>")["title"] == "bytes é"
    # rel without canonical token is not canonical
    assert extract_metadata('<link rel="canonicalish" href="https://n.test/">')[
        "canonical"
    ] is None


def test_page_metadata_is_map_only(spark):
    """One Arrow pass over the scan: no Exchange anywhere in the
    page_metadata plan (metadata extraction must ride the same scan
    as extraction, never add a shuffle)."""
    from extractor.operators.metadata import page_metadata

    pages = spark.createDataFrame(
        [("u1", b"<title>t</title>")], "url string, html binary"
    )
    df = page_metadata(pages)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert df.collect()[0].title == "t"


def test_soft404_flags_classes(spark):
    """Planted capture classes through the soft-404 rule: hard 404s
    never flag (status gate), error titles flag regardless of body
    length, error bodies flag only when short, long articles that
    merely mention 404 do not flag, NULL title/text is tolerated."""
    from extractor.operators.crawl import soft404_flags

    rows = [
        ("hard404", 404, "404 Not Found", "not found"),
        ("t_soft", 200, "Oops — Page Not Found", "x"),
        ("b_soft", 200, "Home", "The page you requested was not found."),
        ("b_long", 200, "Guide", "error 404 explained " + "y" * 600),
        ("t_long", 200, "Page Not Found", "z" * 600),  # title wins even long
        ("clean", 200, "Doc", "regular content here"),
        ("nulls", 200, None, None),
    ]
    df = spark.createDataFrame(
        rows, "url string, http_status int, title string, text string"
    )
    fl = soft404_flags(F.col("http_status"), F.col("title"), F.col("text"))
    got = {
        r.url: r.soft404
        for r in df.select("url", fl["soft404"].alias("soft404")).collect()
    }
    assert got == {
        "hard404": False, "t_soft": True, "b_soft": True,
        "b_long": False, "t_long": True, "clean": False, "nulls": False,
    }


def test_recrawl_priority_change_counting(spark):
    """Adjacent-capture change counting over unordered input: exact
    change counts and basis points, single-capture urls rate 0, and
    the plan holds the no-window bar (bounded history array, not a
    window over the capture stream)."""
    from extractor.operators.crawl import recrawl_priority

    caps = spark.createDataFrame(
        [
            ("u", 2, "b"), ("u", 0, "a"), ("u", 1, "a"), ("u", 3, "b"),
            ("v", 1, "y"), ("v", 0, "x"), ("v", 2, "z"),
            ("w", 5, "k"),
            ("s", 0, "m"), ("s", 1, "m"),
        ],
        "url string, crawl_ts long, digest string",
    )
    df = recrawl_priority(caps)
    got = {
        r.url: (r.n_captures, r.n_changes, r.change_bp, r.first_ts, r.last_ts)
        for r in df.collect()
    }
    assert got == {
        "u": (4, 1, 3333, 0, 3),
        "v": (3, 2, 10000, 0, 2),
        "w": (1, 0, 0, 5, 5),
        "s": (2, 0, 0, 0, 1),
    }
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_fetch_schedule_slots_and_delays(spark):
    """Per-host slots ordered score desc / url asc (deterministic
    ties), K cap enforced, offsets from the host's Crawl-delay with
    the default for rule-less hosts, and no Window in the plan (the
    bounded top-k bar)."""
    from extractor.operators.webgraph import fetch_schedule

    fr = spark.createDataFrame(
        [("a.test", "u1", 10), ("a.test", "u2", 30), ("a.test", "u3", 20),
         ("a.test", "u4", 30), ("b.test", "v1", 5)],
        "host string, url string, score long",
    )
    dl = spark.createDataFrame(
        [("a.test", 2000)], "host string, crawl_delay_ms long"
    )
    df = fetch_schedule(fr, dl, k_per_host=3)
    rows = {
        (r.host, r.url): (r.score, r.slot, r.offset_ms) for r in df.collect()
    }
    assert rows == {
        ("a.test", "u2"): (30, 0, 0),
        ("a.test", "u4"): (30, 1, 2000),
        ("a.test", "u3"): (20, 2, 4000),
        ("b.test", "v1"): (5, 0, 0),
    }
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_charset_sniff_whatwg_order():
    """BOM > Content-Type param > meta prescan (first 1024 bytes
    only) > utf-8 default; labels normalize through the WHATWG alias
    table; unknown labels and None fall back to utf-8."""
    from extractor.operators.charset import normalize_charset, sniff_charset

    assert sniff_charset(b'\xef\xbb\xbf<meta charset="shift_jis">') == "utf-8"
    assert sniff_charset(b"\xff\xfeh\x00") == "utf-16-le"
    assert sniff_charset(b"\xfe\xff\x00h") == "utf-16-be"
    assert (
        sniff_charset(b"<meta charset=utf-8>", "text/html; charset=ISO-8859-1")
        == "cp1252"
    )
    assert sniff_charset(b'<META CHARSET="Windows-1252">') == "cp1252"
    assert (
        sniff_charset(
            b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=shift-jis">'
        )
        == "shift_jis"
    )
    assert sniff_charset(b"x" * 1100 + b"<meta charset=shift_jis>") == "utf-8"
    assert sniff_charset(b"<meta charset=klingon-9>") == "utf-8"
    assert sniff_charset(None) == "utf-8"
    assert normalize_charset("LATIN-1") == "cp1252"
    assert normalize_charset("gb2312") == "gbk"
    assert normalize_charset("bogus") is None


def test_charset_decode_replacement_and_bom_strip():
    from extractor.operators.charset import decode_html

    assert decode_html(b"caf\xe9 \x80", "cp1252") == "café €"
    assert (
        decode_html(bytes.fromhex("82b182f182c982bf82cd"), "shift_jis")
        == "こんにちは"
    )
    assert decode_html(b"\xef\xbb\xbfok\xff", "utf-8") == "ok�"
    assert decode_html(b"\xff\xfeh\x00i\x00", "utf-16-le") == "hi"
    assert decode_html(None, "utf-8") is None
    assert decode_html(b"ok", "no-such-codec") == "ok"  # LookupError fallback


def test_decode_pages_is_map_only(spark):
    from extractor.operators.charset import decode_pages

    pages = spark.createDataFrame(
        [("u1", b"<meta charset=latin-1>caf\xe9", "text/html")],
        "url string, html binary, content_type string",
    )
    df = decode_pages(pages, ctype_col="content_type")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    row = df.collect()[0]
    assert row.charset == "cp1252" and row.text.endswith("café")


def test_sitemap_frontier_decisions(spark):
    """All five fetch-decision classes through one full-outer join:
    new / stale / fresh / no_hint / unlisted, fetch true only for the
    three classes worth budget."""
    from extractor.operators.crawl import sitemap_frontier

    sm = spark.createDataFrame(
        [("u_new", "2025-06-01"), ("u_stale", "2025-06-01"),
         ("u_fresh", "2025-04-01"), ("u_nohint", None)],
        "loc string, lastmod string",
    )
    caps = spark.createDataFrame(
        [("u_stale", "2025-05-01"), ("u_fresh", "2025-05-01"),
         ("u_nohint", "2025-05-01"), ("u_gone", "2025-05-01")],
        "url string, last_ts string",
    )
    got = {
        r.url: (r.status, r.fetch)
        for r in sitemap_frontier(sm, caps).collect()
    }
    assert got == {
        "u_new": ("new", True), "u_stale": ("stale", True),
        "u_fresh": ("fresh", False), "u_nohint": ("no_hint", True),
        "u_gone": ("unlisted", False),
    }


def test_normalize_pages_encoding_end_to_end(spark):
    """A windows-1252 page (meta-declared) extracts its accented
    content correctly once normalize_pages_encoding runs in front of
    run_extraction; a clean UTF-8 page round-trips byte-identical
    (minus nothing — no BOM, no invalid bytes); schema is preserved."""
    import datetime as dt

    from extractor.config import ExtractConfig
    from extractor.operators.charset import normalize_pages_encoding
    from extractor.pipeline import run_extraction

    cp1252_html = (
        b'<html><head><meta charset="windows-1252"><title>T</title></head>'
        b"<body><p>Le caf\xe9 co\xfbte 3 \x80 ce soir, et la discussion "
        b"continue longuement pour remplir le paragraphe.</p></body></html>"
    )
    utf8_html = (
        "<html><body><p>Plain utf-8 paragraph with enough words to be "
        "kept by the density heuristics of the extractor.</p></body></html>"
    ).encode()
    pages = spark.createDataFrame(
        [
            ("https://cp.test/a.html", dt.datetime(2025, 6, 1), cp1252_html,
             None, None),
            ("https://u8.test/b.html", dt.datetime(2025, 6, 1), utf8_html,
             None, None),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    fixed = normalize_pages_encoding(pages)
    assert fixed.schema == pages.schema
    raw = {r.url: bytes(r.html) for r in fixed.collect()}
    assert raw["https://u8.test/b.html"] == utf8_html  # utf-8 untouched
    assert "café coûte 3 €".encode() in raw["https://cp.test/a.html"]

    out = {r.url: r for r in run_extraction(spark, fixed, ExtractConfig()).collect()}
    assert out["https://cp.test/a.html"].success
    assert "Le café coûte 3 €" in out["https://cp.test/a.html"].text


def test_host_link_stats_degrees_and_reciprocity(spark):
    """Multi-edges collapse, self-edges drop, reciprocity counts
    both-way host pairs, sink hosts get out_deg 0."""
    from extractor.operators.webgraph import host_link_stats

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a"), ("a", "c"), ("c", "d"),
         ("d", "d")],
        "src_host string, dst_host string",
    )
    got = {
        r.host: (r.out_deg, r.in_deg, r.reciprocal_deg)
        for r in host_link_stats(edges).collect()
    }
    assert got == {
        "a": (2, 1, 1), "b": (1, 1, 1), "c": (1, 1, 0), "d": (0, 1, 0)
    }


def test_extraction_churn_report(spark):
    """Row loss, change counting, byte math and url→host derivation
    — each column's semantics pinned on a 3-host hand fixture."""
    from extractor.operators.crawl import extraction_churn

    base = spark.createDataFrame(
        [
            ("https://A.test/1", "aaaa"),      # changed (and host case-folds)
            ("https://a.test/2", "bb"),        # dropped by variant
            ("https://b.test/1", "same"),      # unchanged
            ("https://b.test/2", "x"),         # changed, grows
        ],
        "url string, text string",
    )
    variant = spark.createDataFrame(
        [
            # same KEY as base (urls join case-sensitively — only the
            # host grouping folds case)
            ("https://A.test/1", "aa"),
            ("https://b.test/1", "same"),
            ("https://b.test/2", "xxxx"),
            ("https://c.test/9", "new row"),   # variant-only row
        ],
        "url string, text string",
    )
    got = {r["host"]: r.asDict() for r in extraction_churn(base, variant).collect()}
    assert set(got) == {"a.test", "b.test", "c.test"}
    a = got["a.test"]
    assert (a["pages_base"], a["pages_variant"]) == (2, 1)
    assert (a["only_base"], a["only_variant"]) == (1, 0)
    assert (a["changed"], a["changed_bp"]) == (1, 10000)
    assert (a["base_bytes"], a["variant_bytes"], a["delta_bytes"]) == (6, 2, -4)
    b = got["b.test"]
    assert (b["changed"], b["changed_bp"]) == (1, 5000)
    assert b["delta_bytes"] == 3
    assert (b["only_base"], b["only_variant"]) == (0, 0)
    c = got["c.test"]
    assert (c["pages_base"], c["only_variant"], c["changed_bp"]) == (0, 1, 0)


def test_build_postings_max_df_guard_and_order(spark):
    """The stopword cut drops a hot term BEFORE any list collects;
    survivors carry doc-sorted postings with real tf counts."""
    from extractor.operators.relevance import build_postings

    docs = spark.createDataFrame(
        [(9, "the rare rare the"), (3, "the"), (5, "the rare"), (1, "THE")],
        "doc_id long, text string",
    )
    rows = {r["token"]: r for r in build_postings(docs, max_df=3).collect()}
    assert "the" not in rows            # df=4 > 3: guarded out
    rare = rows["rare"]
    assert rare["df"] == 2
    assert [(p["doc"], p["tf"]) for p in rare["postings"]] == [(5, 1), (9, 2)]


def test_conjunctive_query_semantics(spark):
    """AND over K posting lists: only docs hit by every distinct term
    survive; min_tf is the weakest per-term frequency; duplicate
    terms in the request don't double-count; empty request raises."""
    import pytest as _pytest

    from extractor.operators.relevance import build_postings, conjunctive_query

    docs = spark.createDataFrame(
        [
            (1, "x x y z"),   # both x and y: min_tf = min(2, 1) = 1
            (2, "x x x"),     # x only
            (3, "y y"),       # y only
            (4, "x y y"),     # both: min_tf = min(1, 2) = 1... and tf(y)=2
        ],
        "doc_id long, text string",
    )
    idx = build_postings(docs, max_df=100)
    got = {r["doc"]: r["min_tf"] for r in
           conjunctive_query(idx, ["x", "y", "x"]).collect()}
    assert got == {1: 1, 4: 1}
    one = {r["doc"]: r["min_tf"] for r in
           conjunctive_query(idx, ["x"]).collect()}
    assert one == {1: 2, 2: 3, 4: 1}
    with _pytest.raises(ValueError):
        conjunctive_query(idx, [])


def test_merge_postings_lsm_chain_and_recut(spark):
    """Associative chaining: merging three disjoint batch indexes
    (pairwise, LSM-style, intermediate cuts at the SAME threshold)
    equals the one-shot index on the serve view, the merge-time
    re-cut promotes a term each batch carried, and the promotion is
    remembered as a TOMBSTONE (df kept, postings emptied) so a later
    batch cannot resurface it with a partial list."""
    from extractor.operators.relevance import build_postings, merge_postings

    rows = [(i, f"common blk{i // 4}") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batches = [docs.filter(F.col("doc_id") % 3 == r) for r in range(3)]
    idxs = [build_postings(b, max_df=1_000) for b in batches]
    merged = merge_postings(merge_postings(idxs[0], idxs[1], max_df=8),
                            idxs[2], max_df=8)
    one_shot = build_postings(docs, max_df=8)

    def canon(df):
        return sorted(
            (r["token"], r["df"], [(p["doc"], p["tf"]) for p in r["postings"]])
            for r in df.collect()
        )

    got = canon(merged.filter(F.size("postings") > 0))
    assert got == canon(one_shot)
    toks = {t for t, _, _ in got}
    assert "common" not in toks        # df 12 > 8: promoted at merge
    assert "blk0" in toks              # df 4: survives everywhere
    # the promotion is a tombstone with the full accumulated df —
    # "common" hit the cut at the FIRST merge (df 8 is kept; it
    # crosses only when batch 2 joins), and the final row remembers
    # the total
    tomb = {r["token"]: r["df"] for r in
            merged.filter(F.size("postings") == 0).collect()}
    assert tomb == {"common": 12}


def test_phrase_query_positions_and_overlaps(spark):
    """Position arithmetic pinned by hand: consecutive-only matching,
    multiple starts per doc, overlapping repeats, duplicate term in
    the phrase, and the empty-request error."""
    import pytest as _pytest

    from extractor.operators.relevance import phrase_query, positional_postings

    docs = spark.createDataFrame(
        [
            (1, "a b c"),          # one match for (a, b)
            (2, "a x b"),          # gap: no match
            (3, "a b a b"),        # two starts
            (4, "a a a"),          # (a, a): overlapping starts at 0 and 1
            (5, "b a"),            # reversed: no match
        ],
        "doc_id long, text string",
    )
    idx = positional_postings(docs, max_df=100)
    got = {r["doc"]: r["n_matches"] for r in phrase_query(idx, ["a", "b"]).collect()}
    assert got == {1: 1, 3: 2}
    rep = {r["doc"]: r["n_matches"] for r in phrase_query(idx, ["a", "a"]).collect()}
    assert rep == {4: 2}
    single = {r["doc"]: r["n_matches"] for r in phrase_query(idx, ["a"]).collect()}
    assert single == {1: 1, 2: 1, 3: 2, 4: 3, 5: 1}
    with _pytest.raises(ValueError):
        phrase_query(idx, [])


def test_positional_postings_df_cut(spark):
    """df counts DISTINCT docs (not occurrences) and the max_df cut
    removes hot terms from the flat rows."""
    from extractor.operators.relevance import positional_postings

    docs = spark.createDataFrame(
        [(1, "the the rare"), (2, "the"), (3, "the x")],
        "doc_id long, text string",
    )
    rows = positional_postings(docs, max_df=2).collect()
    toks = {r["token"] for r in rows}
    assert "the" not in toks          # df=3 docs > 2 (5 occurrences irrelevant)
    rare = [r for r in rows if r["token"] == "rare"]
    assert len(rare) == 1 and (rare[0]["doc"], rare[0]["pos"], rare[0]["df"]) == (1, 2, 1)


def test_ranked_query_scoring_and_ties(spark):
    """tf weighting, score addition across terms, integer idf, global
    k cut and the doc-id tie-break, pinned on a hand fixture."""
    import pytest as _pytest

    from extractor.operators.relevance import build_postings, ranked_query

    docs = spark.createDataFrame(
        [
            (1, "q q common"),   # tf(q)=2
            (2, "q r common"),   # both terms
            (3, "r common"),     # r only
            (4, "common"),       # no term
            (5, "q common"),     # tie with doc 2? idf decides
        ],
        "doc_id long, text string",
    )
    idx = build_postings(docs, max_df=100)
    n = docs.select(F.count(F.lit(1)).cast("long").alias("n_docs"))
    # df(q)=3, df(r)=2, N=5 → idf(q)=1, idf(r)=2
    # scores: d1=2, d2=1+2=3, d3=2, d5=1 → top3 = d2(3), d1(2), d3(2)
    got = [(r["rank"], r["doc"], r["score"]) for r in
           ranked_query(idx, ["q", "r"], n, k=3).collect()]
    assert sorted(got) == [(1, 2, 3), (2, 1, 2), (3, 3, 2)]
    with _pytest.raises(ValueError):
        ranked_query(idx, [], n)


def test_term_snippets_window_cap_and_edges(spark):
    """Window clamping at both document edges, per-doc cap, 0-based
    offsets and case folding, pinned by hand."""
    from extractor.operators.relevance import term_snippets

    docs = spark.createDataFrame(
        [
            (1, "KW a b c"),            # hit at 0: left edge clamps
            (2, "a b c kw"),            # hit at 3: right edge clamps
            (3, "x kw y kw z kw"),      # 3 hits, cap 2
            (4, "nothing here"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc"], r["pos"], r["snippet"])
        for r in term_snippets(docs, "KW", window=2, max_per_doc=2).collect()
    )
    assert got == [
        (1, 0, "kw a b"),
        (2, 3, "b c kw"),
        (3, 1, "x kw y kw"),
        (3, 3, "kw y kw z kw"),
    ]


def test_build_postings_matches_naive_model_seeded(spark):
    """Seeded randomized cross-check against an independent in-memory
    model (Counter per token), including the df cut — and a random
    3-way batch split folded through merge_postings must equal the
    one-shot index over the same corpus."""
    import random
    from collections import Counter, defaultdict

    from extractor.operators.relevance import build_postings, merge_postings

    rnd = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, 6))))
        for i in range(40)
    ]
    tf: dict[str, Counter] = defaultdict(Counter)
    for i, t in rows:
        for w in t.split(" "):
            if w:
                tf[w][i] += 1
    max_df = 4
    want = sorted(
        (tok, len(c), [(d, c[d]) for d in sorted(c)])
        for tok, c in tf.items()
        if len(c) <= max_df
    )

    def canon(df):
        return sorted(
            (r["token"], r["df"], [(p["doc"], p["tf"]) for p in r["postings"]])
            for r in df.collect()
        )

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert canon(build_postings(docs, max_df=max_df)) == want

    batches = [docs.filter(F.col("doc_id") % 3 == r) for r in range(3)]
    idxs = [build_postings(b, max_df=1_000) for b in batches]
    merged = merge_postings(
        merge_postings(idxs[0], idxs[1], max_df=max_df), idxs[2], max_df=max_df
    ).filter(F.size("postings") > 0)
    assert canon(merged) == want


def test_bigram_surprisal_naive_equivalence_and_order_sensitivity(spark):
    """Seeded naive equivalence for the conditional bigram scoring,
    plus the property unigram scoring cannot have: documents with the
    SAME word multiset but scrambled order score strictly higher than
    the fluent originals.  Docs with < 2 tokens contribute no row."""
    import random

    from extractor.operators.textstats import bigram_surprisal

    rng = random.Random(7)
    sentence = ["alpha", "beta", "gamma", "delta", "epsilon"]
    docs = []
    for i in range(30):
        words = sentence * 4
        if i % 3 == 0:  # scrambled class: same multiset, broken order
            words = words[:]
            rng.shuffle(words)
        docs.append((i, " ".join(words)))
    docs.append((100, "solo"))  # single token → no bigram → no row
    docs.append((101, ""))  # empty → one empty token → no row
    df = spark.createDataFrame(docs, "doc_id: long, text: string")

    cb: dict = {}
    for _, t in docs:
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            cb[(a, b)] = cb.get((a, b), 0) + 1
    cp: dict = {}
    for (a, _), c in cb.items():
        cp[a] = cp.get(a, 0) + c
    want = {}
    for i, t in docs:
        ws = t.split(" ")
        pairs = list(zip(ws, ws[1:]))
        if not pairs:
            continue
        s = sum(cp[a] // cb[(a, b)] for a, b in pairs)
        want[i] = (len(pairs), s, s // len(pairs))

    got = {
        r["doc_id"]: (r["n_bigrams"], r["surprisal_sum"], r["mean_surprisal"])
        for r in bigram_surprisal(df).collect()
    }
    assert got == want
    assert 100 not in got and 101 not in got
    scrambled = [v[2] for k, v in got.items() if k < 100 and k % 3 == 0]
    fluent = [v[2] for k, v in got.items() if k < 100 and k % 3 != 0]
    assert min(scrambled) > max(fluent)


def test_hits_int_naive_equivalence_and_roles(spark):
    """Integer HITS equals a driver-side replay of the exact same
    floor recurrence on a hand graph with distinct roles: a pure hub
    (out-edges only) ends with auth 0, a pure authority (in-edges
    only) ends with hub 0, and the better-cited authority outranks
    the lesser one.  A duplicate edge must count with multiplicity."""
    from collections import Counter

    from extractor.operators.webgraph import hits_int

    edge_list = [
        ("p1", "a1"), ("p1", "a2"), ("p1", "a3"),
        ("p2", "a1"), ("p2", "a1"),  # multi-edge: weight 2
        ("p2", "a2"),
        ("m1", "p1"),  # p1 is both hub and (minor) authority
    ]
    scale, iters = 10**6, 3
    w = Counter(edge_list)
    nodes = sorted({u for u, _ in w} | {v for _, v in w})
    hub = {n: scale for n in nodes}
    for _ in range(iters):
        araw = {n: 0 for n in nodes}
        for (u, v), wt in w.items():
            araw[v] += wt * hub[u]
        atot = max(sum(araw.values()), 1)
        auth = {n: araw[n] * scale // atot for n in nodes}
        hraw = {n: 0 for n in nodes}
        for (u, v), wt in w.items():
            hraw[u] += wt * auth[v]
        htot = max(sum(hraw.values()), 1)
        hub = {n: hraw[n] * scale // htot for n in nodes}

    df = spark.createDataFrame(edge_list, "src: string, dst: string")
    got = {
        r["node"]: (r["auth"], r["hub"])
        for r in hits_int(df, iterations=iters).collect()
    }
    assert got == {n: (auth[n], hub[n]) for n in nodes}
    assert got["p2"][0] == 0  # pure hub: no in-edges → auth 0
    assert got["a1"][1] == 0  # pure authority: no out-edges → hub 0
    assert got["a1"][0] > got["a3"][0]  # more hub endorsement → more auth
    assert got["p1"][1] > 0 and got["p2"][1] > 0


def test_strip_duplicated_spans_surgery(spark):
    """Hand fixture for the ExactSubstr strip: a 9-word boiler tail
    shared by four docs is removed exactly (bodies keep original
    bytes and order), a unique doc is untouched, a doc that is PURE
    boilerplate survives as '', and within-doc repetition alone does
    not trigger removal (df counts documents, not occurrences)."""
    from extractor.operators.dedup import strip_duplicated_spans

    boiler = "all rights reserved worldwide by the example legal dept"
    docs = []
    for i in range(4):
        body = " ".join(f"body{i}w{j}" for j in range(10))
        docs.append((i, body + " " + boiler))
    docs.append((10, " ".join(f"only{j}" for j in range(12))))
    docs.append((11, boiler))
    docs.append((12, " ".join(["rep"] * 9)))  # internal repetition only
    df = spark.createDataFrame(docs, "doc_id: long, text: string")

    got = {r["doc_id"]: r for r in strip_duplicated_spans(df).collect()}
    for i in range(4):
        body = " ".join(f"body{i}w{j}" for j in range(10))
        assert got[i]["clean_text"] == body
        assert got[i]["n_removed"] == 9 and got[i]["n_kept"] == 10
    assert got[10]["clean_text"] == docs[4][1] and got[10]["n_removed"] == 0
    assert got[11]["clean_text"] == "" and got[11]["n_kept"] == 0
    assert got[12]["clean_text"] == docs[6][1] and got[12]["n_removed"] == 0


def test_bloom_gate_no_false_negatives_and_low_fp(spark):
    """The membership contract: every inserted digest probes
    maybe_seen=true (false negatives impossible — a false negative
    would silently drop a genuinely new document from the exact
    check); disjoint digests probe mostly false with a small measured
    false-positive rate at the default sizing."""
    from extractor.operators.sketch import bloom_build, bloom_probe

    hist = spark.range(1000).select(
        F.md5(F.concat(F.lit("h"), F.col("id").cast("string"))).alias("digest")
    )
    fresh = spark.range(1000).select(
        F.md5(F.concat(F.lit("n"), F.col("id").cast("string"))).alias("digest")
    )
    words = bloom_build(hist).localCheckpoint(eager=True)
    seen = bloom_probe(hist, words).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("maybe_seen").cast("int")).alias("hits"),
    ).collect()[0]
    assert seen["hits"] == seen["n"] == 1000  # no false negatives
    fp = bloom_probe(fresh, words).agg(
        F.sum(F.col("maybe_seen").cast("int")).alias("fp")
    ).collect()[0]["fp"]
    # m=2^18, k=5, n=1000 → theoretical FP ~ (1-e^{-5000/262144})^5 ≈ 2e-9
    assert fp <= 2


def test_bloom_probe_equijoin_matches_broadcast(spark):
    """broadcast_words=False (the words-table-outgrew-the-driver
    path) must give identical verdicts to the broadcast probe."""
    from extractor.operators.sketch import bloom_build, bloom_probe

    hist = spark.range(200).select(
        F.md5(F.col("id").cast("string")).alias("digest")
    )
    batch = spark.range(400).select(
        F.md5(F.col("id").cast("string")).alias("digest")
    )
    words = bloom_build(hist).localCheckpoint(eager=True)
    a = {r["digest"]: r["maybe_seen"]
         for r in bloom_probe(batch, words, broadcast_words=True).collect()}
    b = {r["digest"]: r["maybe_seen"]
         for r in bloom_probe(batch, words, broadcast_words=False).collect()}
    assert a == b and len(a) == 400


def test_bloom_probe_preserves_null_digest_rows(spark):
    """Annotate shape is row-preserving: a batch row with a NULL
    digest must come back maybe_seen=false (definitively new), not
    vanish — a dropped row would make the downstream exact-dedup gate
    silently skip the document (r4 advisor finding)."""
    from extractor.operators.sketch import bloom_build, bloom_probe

    hist = spark.range(50).select(
        F.md5(F.col("id").cast("string")).alias("digest")
    )
    words = bloom_build(hist).localCheckpoint(eager=True)
    batch = spark.createDataFrame(
        [("a", "known"), ("b", None), ("c", None)], "tag: string, raw: string"
    ).select(
        "tag",
        F.when(F.col("raw") == "known", F.md5(F.lit("7"))).alias("digest"),
    )
    got = {r["tag"]: r["maybe_seen"] for r in bloom_probe(batch, words).collect()}
    assert len(got) == 3  # no rows lost
    assert got["a"] is True and got["b"] is False and got["c"] is False


def test_normalize_text_semantics(spark):
    """Normalization corners: decomposed accents compose to the same
    bytes as the precomposed form (the dedup-splitting artifact the
    pass exists for), controls vanish, runs collapse, outer trim uses
    the explicit strip set, nulls pass through, untouched docs report
    changed=false."""
    from extractor.operators.charset import normalize_text

    df = spark.createDataFrame(
        [
            (0, "café menu"),          # decomposed → 'café menu'
            (1, "café menu"),           # precomposed — must equal #0
            (2, "a\x00b\x07c"),              # controls stripped
            (3, "x  \t\t y"),                # runs collapse
            (4, "  padded \n"),              # outer trim
            (7, "a\rb\r\nc"),                  # CR / CRLF -> LF
            (5, "already clean"),            # unchanged
            (6, None),                        # null in → null out
        ],
        "doc_id: long, text: string",
    )
    got = {r["id"]: (r["norm_text"], r["changed"])
           for r in normalize_text(df).collect()}
    assert got[0] == ("café menu", True)
    assert got[1] == ("café menu", False)
    assert got[0][0] == got[1][0]
    assert got[2] == ("abc", True)
    assert got[3] == ("x y", True)
    assert got[4] == ("padded", True)
    assert got[5] == ("already clean", False)
    assert got[6] == (None, False)
    assert got[7] == ("a\nb\nc", True)


def _naive_cdc(texts, avg_words=32):
    """Driver-side replay of the CDC boundary/assembly rule."""
    import hashlib

    out = {}
    for doc_id, text in texts:
        ws = text.split(" ")
        wh = [
            int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % 2147483647
            for w in ws
        ]
        starts = [0] + [i for i in range(1, len(ws)) if wh[i] % avg_words == 0]
        chunks = []
        for j, s in enumerate(starts):
            e = starts[j + 1] if j + 1 < len(starts) else len(ws)
            txt = " ".join(ws[s:e])
            chunks.append(
                (j, s, e - s, hashlib.md5(txt.encode()).hexdigest())
            )
        out[doc_id] = chunks
    return out


def test_cdc_chunks_naive_equivalence_and_shift_resistance(spark):
    """Content-defined chunking equals a driver-side replay, chunks
    tile each document exactly, and — the property fixed-size
    chunking lacks — a one-word INSERTION at the front leaves every
    chunk after the first boundary shared with the original."""
    import random

    from extractor.operators.chunking import cdc_chunks, cdc_shared_chunks

    rng = random.Random(11)
    vocab = [f"w{n}" for n in range(400)]
    base = [vocab[rng.randrange(400)] for _ in range(150)]
    texts = [
        (0, " ".join(base)),
        (1, "insertedzzz " + " ".join(base)),  # front insertion
        (2, " ".join(vocab[rng.randrange(400)] for _ in range(90))),
    ]
    want = _naive_cdc(texts)
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    got: dict = {}
    for r in cdc_chunks(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start_word"], r["n_words"], r["chunk_md5"])
        )
    assert {k: sorted(v) for k, v in got.items()} == {
        k: sorted(v) for k, v in want.items()
    }
    # tiling: spans are contiguous and cover [0, n_words)
    for doc_id, text in texts:
        spans = sorted((s, s + n) for _, s, n, _ in got[doc_id])
        assert spans[0][0] == 0 and spans[-1][1] == len(text.split(" "))
        assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
    # shift resistance: original and inserted copy share every chunk
    # from the first content boundary on
    d0 = {m for _, s, _, m in want[0] if s > 0}
    d1 = {m for _, s, _, m in want[1]}
    assert d0 and d0 <= d1
    shared = {
        (r["doc_id"], r["chunk_idx"]): r["shared"]
        for r in cdc_shared_chunks(df).collect()
    }
    for idx, s, n, m in want[0]:
        if s > 0:
            assert shared[(0, idx)]
    assert not any(shared[(2, i)] for i, _, _, _ in want[2])


def test_collocations_topk_planted_pair_and_floor(spark):
    """A pair whose words occur nowhere else is a perfect collocation
    (dice exactly 10^6, rank 1); a frequent-but-promiscuous pairing
    scores lower; below-min_count pairs never appear."""
    from extractor.operators.relevance import collocations_topk

    rows = []
    for i in range(40):
        base = f"common{i % 3} filler{i % 7} common{(i + 1) % 3}"
        tail = " exact match" if i % 2 == 0 else ""
        rare = " lone wolf" if i < 3 else ""  # n_pair 3 < min_count
        rows.append((i, base + tail + rare))
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {(r["w1"], r["w2"]): r for r in collocations_topk(df, k=20).collect()}
    assert ("exact", "match") in got
    top = got[("exact", "match")]
    assert top["dice_x1e6"] == 10**6 and top["rank"] == 1
    assert ("lone", "wolf") not in got
    assert all(r["n_pair"] >= 5 for r in got.values())


def test_incremental_cdc_dedup_recrawl_delta(spark, tmp_path):
    """The recrawl-delta property: after batch 1 commits, an
    UNCHANGED re-captured doc classifies 100% dup_of_history; a doc
    with one word inserted at the front stores only the chunks the
    naive replay says changed (realignment from the first anchor); a
    brand-new doc's chunks are new; and a replayed batch against the
    advanced index is all dup_of_history (idempotent re-crawl)."""
    import random

    from extractor.operators.chunking import incremental_cdc_dedup

    rng = random.Random(23)
    vocab = [f"w{n}" for n in range(400)]

    def words(n):
        return " ".join(vocab[rng.randrange(400)] for _ in range(n))

    b1_texts = [(i, words(150)) for i in range(4)]
    b2_texts = [
        (0, "insertedzzz " + b1_texts[0][1]),  # front insertion
        (1, b1_texts[1][1]),  # unchanged
        (4, words(120)),  # brand-new doc
    ]
    idx = str(tmp_path / "cdc_idx")
    b1 = spark.createDataFrame(b1_texts, "doc_id: long, text: string")
    b2 = spark.createDataFrame(b2_texts, "doc_id: long, text: string")
    r1 = incremental_cdc_dedup(b1, idx)
    assert not any(r["status"] == "dup_of_history" for r in r1.collect())
    r2 = {(r["doc_id"], r["chunk_idx"]): r for r in
          incremental_cdc_dedup(b2, idx).collect()}

    want1 = _naive_cdc(b1_texts)
    want2 = _naive_cdc(b2_texts)
    hist = {m for chunks in want1.values() for _, _, _, m in chunks}
    # unchanged doc: everything known
    assert all(r2[(1, i)]["status"] == "dup_of_history"
               for i, _, _, _ in want2[1])
    # inserted doc: exactly the replay-predicted delta is new
    for i, _, _, m in want2[0]:
        expect = "dup_of_history" if m in hist else "new"
        assert r2[(0, i)]["status"] == expect
    n_new0 = sum(1 for i, _, _, m in want2[0] if m not in hist)
    assert 0 < n_new0 < len(want2[0])  # a delta, not a full re-store
    # brand-new doc: new except chunks colliding with history
    for i, _, _, m in want2[4]:
        assert r2[(4, i)]["status"] == ("dup_of_history" if m in hist else "new")
    # idempotent re-crawl: batch 2 replayed is all dup_of_history
    r3 = incremental_cdc_dedup(b2, idx, commit=False)
    assert all(r["status"] == "dup_of_history" for r in r3.collect())


def test_incremental_cdc_dedup_string_and_hex64_ids(spark, tmp_path):
    """The tier's standard ids must pass through unchanged: string
    (url) ids and full-range 60-bit hex64 longs.  The r4 advisor
    found the first-occurrence tiebreak encoded doc_id*1e6+chunk_idx,
    which cast-fails on strings and overflows hex64 under ANSI mode;
    the fix is a type-agnostic struct-min.  In-batch duplicate text
    must resolve 'new' to the lexicographically-first (doc_id,
    chunk_idx) and the rest dup_in_batch."""
    from extractor.operators.chunking import incremental_cdc_dedup

    text = " ".join(f"tok{i % 37}x{i % 11}" for i in range(160))
    # string ids, duplicate text across two docs
    s = spark.createDataFrame(
        [("http://b.com/p", text), ("http://a.com/p", text)],
        "doc_id: string, text: string",
    )
    rs = incremental_cdc_dedup(s, str(tmp_path / "s_idx")).collect()
    assert {r["doc_id"] for r in rs} == {"http://a.com/p", "http://b.com/p"}
    for r in rs:  # min struct → the 'a.com' doc owns every first occurrence
        assert r["status"] == ("new" if r["doc_id"] == "http://a.com/p"
                               else "dup_in_batch")
    # hex64-range long ids (doc_id*1e6 would overflow int64)
    big = (1 << 60) - 1
    h = spark.createDataFrame(
        [(big, text), (big - 1, text)], "doc_id: long, text: string"
    )
    rh = incremental_cdc_dedup(h, str(tmp_path / "h_idx")).collect()
    assert rh and all(
        r["status"] == ("new" if r["doc_id"] == big - 1 else "dup_in_batch")
        for r in rh
    )


def test_grouped_quantiles_naive_equivalence(spark):
    """Quantiles equal the definition replayed driver-side (smallest
    value whose cumulative count reaches q*n/10000), including the
    all-equal-values and two-value edge groups."""
    import random

    from extractor.operators.textstats import grouped_quantiles

    rng = random.Random(5)
    rows = [("a", rng.randrange(1, 1000)) for _ in range(337)]
    rows += [("b", 42)] * 10  # degenerate: every quantile is 42
    rows += [("c", 1), ("c", 2)]
    df = spark.createDataFrame(rows, "lang: string, n_chars: long")

    def naive(vals, bp):
        vals = sorted(vals)
        n = len(vals)
        for i, v in enumerate(vals, 1):
            if i * 10000 >= bp * n:
                return v

    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    got = {r["lang"]: r for r in grouped_quantiles(df).collect()}
    for g, vals in by_g.items():
        r = got[g]
        assert r["n_docs"] == len(vals)
        for bp in (2500, 5000, 7500, 9500):
            assert r[f"q{bp}"] == naive(vals, bp), (g, bp)
        assert r["min_v"] == min(vals) and r["max_v"] == max(vals)
    assert got["b"]["q2500"] == got["b"]["q9500"] == 42
    assert got["c"]["q5000"] == 1 and got["c"]["q7500"] == 2


def test_host_path_profiles_sections_and_floor(spark):
    """Section extraction corners (root, nested, case fold), share
    arithmetic against the host's WHOLE url space, and the min_urls
    cut trimming reported rows without distorting shares."""
    from extractor.operators.webgraph import host_path_profiles

    urls = [
        "https://a.test/wiki/1", "https://a.test/wiki/2",
        "https://a.test/Wiki/3",  # case-folds into /wiki
        "https://a.test/tag/x/y",  # nested → /tag
        "https://a.test",  # root → /
        "https://b.test/only",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url: string")
    got = {(r["host"], r["section"]): r
           for r in host_path_profiles(df).collect()}
    assert got[("a.test", "/wiki")]["n_urls"] == 3
    assert got[("a.test", "/wiki")]["share_bp"] == 6000
    assert got[("a.test", "/tag")]["n_urls"] == 1
    assert got[("a.test", "/")]["n_urls"] == 1
    assert got[("b.test", "/only")]["share_bp"] == 10000
    cut = {(r["host"], r["section"]): r
           for r in host_path_profiles(df, min_urls=2).collect()}
    assert set(cut) == {("a.test", "/wiki")}
    assert cut[("a.test", "/wiki")]["share_bp"] == 6000  # denominator intact


def test_mixture_drift_gap_semantics(spark):
    """A source that skips a crawl reappears with NULL prev/drift —
    the equi-join form does NOT reach back across the gap (a window
    lag would); shares are of each crawl's own total."""
    from extractor.operators.crawl import mixture_drift

    rows = [
        (0, "s1", 10), (0, "s2", 30),
        (1, "s1", 40),
        (2, "s1", 10), (2, "s2", 30),
    ]
    df = spark.createDataFrame(rows, "crawl_id: long, source: string, weight: long")
    got = {(r["crawl_id"], r["source"]): r
           for r in mixture_drift(df).collect()}
    assert got[(0, "s1")]["share_bp"] == 2500
    assert got[(0, "s1")]["prev_share_bp"] is None
    assert got[(1, "s1")]["share_bp"] == 10000
    assert got[(1, "s1")]["drift_bp"] == 7500
    assert got[(2, "s2")]["prev_share_bp"] is None  # gap: no reach-back
    assert got[(2, "s1")]["drift_bp"] == 2500 - 10000


def test_quantize_embeddings_invariants(spark):
    """Quantization bounds and edge cases: components land in
    [-127, 127] with the max-magnitude side hitting ±127 (floor takes
    the negative extreme to exactly -127, the positive to 127 or 126),
    zero vectors quantize to zeros with scale 0, and quantized cosine
    of a vector with ITSELF is 1 (scale invariance)."""
    from extractor.operators.similarity import quantize_embeddings

    rows = [
        (0, [0.5, -1.0, 0.25]),
        (1, [0.0, 0.0, 0.0]),
        (2, [2.0, 1.0, -0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    got = {r["id"]: (r["scale"], list(r["qvec"]))
           for r in quantize_embeddings(df).collect()}
    assert got[0] == (1.0, [63, -127, 31])
    assert got[1] == (0.0, [0, 0, 0])
    assert got[2] == (2.0, [127, 63, -32])
    for _, q in got.values():
        assert all(-127 <= x <= 127 for x in q)


def test_label_propagation_naive_and_semantics(spark):
    """Hand graph: weighted votes win, ties break label-ascending,
    seeds are clamped against contrary neighbors, unreachable nodes
    stay unlabeled; exact equality with a driver-side replay of the
    same recurrence for 3 iterations."""
    from extractor.operators.webgraph import label_propagation_int

    edge_list = [
        ("s1", "a"), ("a", "b"),
        ("s2", "c"),
        ("s1", "x"), ("s1", "x"), ("s2", "x"),  # x: news 2 vs shop 1
        ("s1", "t"), ("s2", "t"),               # t: tie → 'news' (asc)
        ("s2", "s1"), ("s2", "s1"),             # seed clamp pressure
        ("z1", "z2"),                            # unlabeled island
    ]
    seeds = {"s1": "news", "s2": "shop"}
    iters = 3

    from collections import Counter

    sym = Counter()
    for u, v in edge_list:
        if u != v:
            sym[(u, v)] += 1
            sym[(v, u)] += 1
    labels = {n: (l, 0) for n, l in seeds.items()}
    for _ in range(iters):
        votes: dict = {}
        for (a, b), w in sym.items():
            if a in labels:
                votes.setdefault(b, Counter())[labels[a][0]] += w
        new = {}
        for n, c in votes.items():
            best = min(((-v, l) for l, v in c.items()))
            new[n] = (best[1], -best[0])
        for n, l in seeds.items():
            new[n] = (l, 0)
        labels = new

    df = spark.createDataFrame(edge_list, "src: string, dst: string")
    sd = spark.createDataFrame(list(seeds.items()), "node: string, label: string")
    got = {r["node"]: (r["label"], r["votes"])
           for r in label_propagation_int(df, sd, iterations=iters).collect()}
    assert got == labels
    assert got["s1"] == ("news", 0)          # clamped
    assert got["x"][0] == "news"             # weight wins
    assert got["t"][0] == "news"             # tie → label asc
    assert "z1" not in got and "z2" not in got


def test_robots_match_longest_match_precedence(spark):
    """RFC precedence corners on a hand fixture: deeper Allow
    overrides shorter Disallow, equal-length tie goes to Allow,
    deeper Disallow overrides shorter Allow, rule-less hosts and
    unmatched paths are allowed with NULL winner."""
    from extractor.operators.webgraph import robots_match

    rules = spark.createDataFrame(
        [
            ("a.test", "disallow", "/private"),
            ("a.test", "allow", "/private/public"),
            ("a.test", "allow", "/p"),
            ("a.test", "disallow", "/p/deep"),
            ("b.test", "allow", "/x"),
            ("b.test", "disallow", "/x"),
        ],
        "host: string, kind: string, path_prefix: string",
    )
    frontier = spark.createDataFrame(
        [
            ("https://a.test/private/public/1",),
            ("https://a.test/private/other",),
            ("https://a.test/p/deep/2",),
            ("https://a.test/p/shallow",),
            ("https://a.test/unmatched",),
            ("https://b.test/x/tie",),
            ("https://c.test/anything",),
        ],
        "url: string",
    )
    got = {r["url"]: (r["allowed"], r["winner_kind"], r["winner_len"])
           for r in robots_match(frontier, rules).collect()}
    assert got["https://a.test/private/public/1"] == (True, "allow", 15)
    assert got["https://a.test/private/other"] == (False, "disallow", 8)
    assert got["https://a.test/p/deep/2"] == (False, "disallow", 7)
    assert got["https://a.test/p/shallow"] == (True, "allow", 2)
    assert got["https://a.test/unmatched"] == (True, None, None)
    assert got["https://b.test/x/tie"] == (True, "allow", 2)  # tie → allow
    assert got["https://c.test/anything"] == (True, None, None)


def test_winnowing_pairs_local_overlap_guarantee(spark):
    """The winnowing guarantee on a hand fixture: two docs sharing a
    run >= w+k-1 words MUST pair, docs with no shared run must not,
    and a fingerprint hotter than max_df is excluded from the index
    (the boilerplate guard)."""
    from extractor.operators.dedup import winnowing_pairs

    run = "alpha beta gamma delta epsilon zeta eta theta"  # 8-word run
    rows = [
        (1, "unique one " + run + " tail one here"),
        (2, "different prefix words " + run + " other suffix"),
        (3, "totally disjoint content with nothing shared at all ok"),
    ]
    # hot boilerplate: a run shared by MANY docs gets capped out
    boiler = "common footer line repeated on every single page here"
    rows += [(100 + i, f"body{i} words {boiler}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {(r["a"], r["b"]): r["n_shared"]
           for r in winnowing_pairs(df, min_shared=1, max_df=5).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 1
    assert not any(3 in p for p in got)
    assert not any(a >= 100 and b >= 100 for a, b in got)  # capped out


def test_tokenizer_seam_contract(spark):
    """The token-counting seam (r4 VERDICT item 4): bpe_estimate
    charges long words extra (1 + (len-1) div 6), matches whitespace
    on short-word text, a caller-supplied callable (the production
    BPE hook) flows through pack_assignments unchanged, and unknown
    names fail loudly."""
    import pytest as _pytest

    from extractor.operators.packing import pack_assignments
    from extractor.operators.tokenizer import (
        bpe_token_count_estimate,
        token_count_expr,
        ws_token_count,
    )

    df = spark.createDataFrame(
        [(1, "a bb cc"), (2, "hello supercalifragilistic x")],
        "doc_id: long, text: string",
    )
    got = {
        r["doc_id"]: (r["ws"], r["bpe"])
        for r in df.select(
            "doc_id",
            ws_token_count(F.col("text")).alias("ws"),
            bpe_token_count_estimate(F.col("text")).alias("bpe"),
        ).collect()
    }
    assert got[1] == (3, 3)  # short words: estimate == word count
    # 'hello'(5)->1, 'supercalifragilistic'(20)->1+(19//6)=4, 'x'->1
    assert got[2] == (3, 6)

    # callable hook: constant-7 counter flows through packing
    a = pack_assignments(df, budget=10, tokenizer=lambda c: F.lit(7)).collect()
    assert all(r["n_tokens"] == 7 for r in a)

    with _pytest.raises(ValueError, match="unknown tokenizer"):
        token_count_expr(F.col("text"), "no_such_vocab")


def test_pack_sequences_tokens_budget_binds_on_tokens(spark):
    """With bpe_estimate, a doc of few LONG words fills a bin that
    word-counting would call nearly empty — the whole point of
    binding the budget in tokens."""
    from extractor.operators.packing import pack_bins

    long_words = " ".join(["antidisestablishmentarianism"] * 20)  # 20 words
    df = spark.createDataFrame(
        [(1, long_words)], "doc_id: long, text: string"
    )
    ws = pack_bins(df, budget=100, n_shards=1).collect()[0]
    bpe = pack_bins(df, budget=100, n_shards=1,
                    tokenizer="bpe_estimate").collect()[0]
    assert ws["n_tokens"] == 20 and ws["fill_bp"] == 2000
    # 28 chars -> 1 + 27//6 = 5 pieces per word -> 100 tokens, bin full
    assert bpe["n_tokens"] == 100 and bpe["fill_bp"] == 10000


def test_classifier_seam_contract(spark):
    """The quality-classifier seam (r4 VERDICT item 5): surrogate
    scores land in [0,1] and are deterministic; NULL/empty text
    scores NULL (and never survives a selection cut); a
    caller-supplied callable (the production fastText hook) flows
    through; unknown names fail loudly; and the selection plan is
    map-only — scoring must never introduce a shuffle."""
    import pytest as _pytest

    from extractor.operators.classifier import (
        classifier_score_expr,
        classifier_scores,
        select_by_classifier,
    )

    df = spark.createDataFrame(
        [(1, "solid readable body text here"), (2, None), (3, "")],
        "doc_id: long, text: string",
    )
    got = {r["doc_id"]: r["clf_score"] for r in classifier_scores(df).collect()}
    assert 0.0 <= got[1] <= 1.0
    assert got[2] is None and got[3] is None
    again = {r["doc_id"]: r["clf_score"] for r in classifier_scores(df).collect()}
    assert got == again  # frozen weights: deterministic

    kept = select_by_classifier(df, threshold=0.0).collect()
    assert {r["doc_id"] for r in kept} == {1}  # NULL scores drop

    # production hook: a constant scorer flows through unchanged
    hook = select_by_classifier(df, 0.5, classifier=lambda c: F.lit(0.9))
    assert {r["doc_id"] for r in hook.collect()} == {1, 2, 3}

    with _pytest.raises(ValueError, match="unknown classifier"):
        classifier_score_expr(F.col("text"), "no_such_model")

    # map-only: no exchange anywhere in the selection plan
    plan = select_by_classifier(df, 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_host_reciprocity_fixture(spark):
    """Reciprocity accounting: mutual pair counts once per direction,
    one-way edges count zero, self-loops are excluded, duplicate page
    edges collapse (distinct host-pair grain)."""
    from extractor.operators.webgraph import host_reciprocity

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("a", "a"), ("a", "b")],
        "src_host: string, dst_host: string",
    )
    got = {r["host"]: r for r in host_reciprocity(edges).collect()}
    assert got["a"]["n_out"] == 2 and got["a"]["n_reciprocal"] == 1
    assert got["a"]["recip_bp"] == 5000
    assert got["b"]["n_out"] == 1 and got["b"]["recip_bp"] == 10000
    assert "c" not in got  # no out-edges, no row


def test_cocitation_pairs_cap_and_threshold(spark):
    """Co-citation: pairs count distinct co-citing sources; a hub
    source above max_out is dropped BEFORE the self-join (its
    quadratic pair mass never materializes); min_cocite prunes
    singletons."""
    from extractor.operators.webgraph import cocitation_pairs

    rows = [("s1", "a"), ("s1", "b"), ("s1", "c"),
            ("s2", "a"), ("s2", "b"), ("s2", "b")]  # dup edge collapses
    rows += [("hub", f"t{i}") for i in range(70)] + [("hub", "a"), ("hub", "b")]
    edges = spark.createDataFrame(rows, "url: string, href: string")
    got = {(r["a"], r["b"]): r["n_cocite"]
           for r in cocitation_pairs(edges, max_out=64).collect()}
    assert got == {("a", "b"): 2}  # hub's co-citations never counted
    # without the cap the hub would add one more co-citing source
    uncapped = {(r["a"], r["b"]): r["n_cocite"]
                for r in cocitation_pairs(edges, max_out=1000).collect()}
    assert uncapped[("a", "b")] == 3


def test_phash_pairs_locality_and_radius(spark):
    """Perceptual-hash dedup plumbing: exact copies land at hamming 0;
    a small in-place edit lands within the radius; unrelated payloads
    do not pair; sub-2-byte payloads (null sig) are dropped, not
    crashed."""
    from extractor.operators.multimodal import phash_pairs, phash_stub

    base = "".join(chr(65 + (i * 7) % 26) for i in range(400))
    # in-place single-byte edit at 0-idx 199 — sample k=27 of the 54
    # (1-based pos 1+floor(27*399/54)=200), left operand of exactly
    # one dHash comparison (bit i=3,j=0 vs sample 28 at pos 207='M'):
    # 'P'(80)<'M' false -> 'A'(65)<'M' true, so hamming is exactly 1
    edited = base[:199] + "A" + base[200:]
    other = "".join(chr(97 + (i * 11) % 26) for i in range(400))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, edited), (4, other), (5, "x")],
        "doc_id: long, payload: string",
    )
    sig = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", phash_stub(F.col("payload")).alias("s")).collect()}
    assert sig[1] == sig[2] and sig[5] is None
    assert 0 <= sig[1] < (1 << 48)
    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in phash_pairs(df, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 1 and pairs[(2, 3)] == 1
    assert not any(4 in p or 5 in p for p in pairs)


def test_hamming_pairs_from_sigs_validation(spark):
    """The generic pigeonhole join rejects impossible configs loudly
    (radius >= chunks breaks the pigeonhole guarantee; width must
    split evenly)."""
    import pytest as _pytest

    from extractor.operators.dedup import hamming_pairs_from_sigs

    sigs = spark.createDataFrame([(1, 5)], "id: long, sig: long")
    with _pytest.raises(ValueError, match="pigeonhole"):
        hamming_pairs_from_sigs(sigs, sig_bits=48, max_hamming=4, n_chunks=4)
    with _pytest.raises(ValueError, match="divide"):
        hamming_pairs_from_sigs(sigs, sig_bits=48, max_hamming=3, n_chunks=5)


def test_simhash_wide_signature_matches_bruteforce(spark):
    """The 60-bit SimHash dial: pairs from the pigeonhole blocking at
    sig_bits=60 equal a driver-side brute force over the same
    signatures (recall 1.0 at the radius by construction, at any
    width), and near-identical docs land within the radius while
    unrelated docs stay far outside it."""
    import random

    from extractor.operators.dedup import simhash_df, simhash_hamming_pairs

    rng = random.Random(3)
    vocab = [f"w{n}" for n in range(500)]
    texts = []
    for i in range(30):
        base = " ".join(vocab[rng.randrange(500)] for _ in range(120))
        texts.append((i, base))
        if i % 5 == 0:  # near-copy: one appended token
            texts.append((i + 1000, base + " extraword"))
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    sigs = {r["id"]: r["simhash"] for r in
            simhash_df(df, id_col="doc_id", sig_bits=60).collect()}
    assert all(0 <= s < (1 << 60) for s in sigs.values())
    want = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs for b in sigs if a < b
        and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {(r["a"], r["b"]): r["hamming"] for r in simhash_hamming_pairs(
        df, id_col="doc_id", sig_bits=60).collect()}
    assert got == want
    assert any(b == a + 1000 for a, b in got)  # planted near-copies found


def test_compression_ratio_matches_driver_zlib(spark):
    """The mapInPandas zlib pass must agree exactly with a driver-side
    recompute over every sf0.001 document — this test IS the oracle
    for the one registry entry that carries no SQL (DuckDB has no
    zlib)."""
    import zlib

    from extractor.operators.compressibility import compression_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: (r["raw_bytes"], r["zlib_bytes"], r["ratio_x1000"],
                      r["repetitive"])
        for r in compression_stats(docs).collect()
    }
    rows = docs.select("doc_id", "text").collect()
    assert len(got) == len(rows) > 0
    for r in rows:
        data = (r["text"] or "").encode("utf-8")
        n, z = len(data), len(zlib.compress(data, 6))
        ratio = (z * 1000 // n) if n else 1000
        assert got[r["doc_id"]] == (n, z, ratio, ratio < 300)


def test_compression_ratio_flags_repetition(spark):
    """Repetition monotonicity: the same prose with a repeated block
    appended must compress strictly better (lower ratio), and a
    pathologically repetitive doc must trip the flag."""
    from extractor.operators.compressibility import compression_stats

    prose = (
        "the quick brown fox jumps over one lazy dog while seventeen "
        "magpies argue about breakfast near a rusty weather vane "
    ) * 3
    df = spark.createDataFrame(
        [
            (1, prose),
            (2, prose + "spam ham " * 400),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in compression_stats(df).collect()}
    assert out[2]["ratio_x1000"] < out[1]["ratio_x1000"]
    assert out[2]["repetitive"]
    assert out[3]["raw_bytes"] == 0 and out[3]["ratio_x1000"] == 1000
    assert not out[3]["repetitive"]


def test_train_split_is_pure_function_of_doc_id(spark):
    """Split assignment must survive any repartitioning (recrawls,
    appends): identical doc_id -> split map under 1 vs 7 partitions,
    buckets in [0,1000), and every split name exactly matching its
    980/995 bucket cut."""
    from extractor.queries import REGISTRY

    q = REGISTRY["train_split_assign"].spark
    base = q(spark, "/root/testdata/sf0.001")
    a = {r["doc_id"]: (r["bucket"], r["split"]) for r in base.collect()}
    b = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in q(spark, "/root/testdata/sf0.001").repartition(7).collect()
    }
    assert a == b
    for bucket, split in a.values():
        assert 0 <= bucket < 1000
        expect = (
            "train" if bucket < 980
            else "validation" if bucket < 995 else "test"
        )
        assert split == expect


def test_split_leakage_separates_leaked_from_clean(spark):
    """The audit must flag exactly the held-out docs sharing a trigram
    with train: a verbatim-overlap doc leaks, a unique-vocabulary doc
    does not, and an empty eval split yields no row (the registry
    corpus leaks 100% by shared synthetic vocabulary, so this test is
    what proves the operator discriminates)."""
    from extractor.operators.dedup import split_leakage

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "train"),
            (2, "eta theta iota kappa lambda mu", "train"),
            (3, "alpha beta gamma utterly new tail", "validation"),
            (4, "nu xi omicron pi rho sigma", "validation"),
            (5, "tau upsilon phi chi psi omega", "test"),
        ],
        "doc_id long, text string, split string",
    )
    got = {r["split"]: (r["n_docs"], r["n_leaked"])
           for r in split_leakage(df).collect()}
    assert got == {"validation": (2, 1), "test": (1, 0)}


def test_bm25_saturation_and_length_normalization(spark):
    """BM25's two distinguishing behaviors vs linear tf-idf, pinned:
    (a) tf saturation — tf 4 scores less than 4x tf 1 on same-length
    docs; (b) length normalization — same tf, longer doc scores
    strictly lower.  Scores recomputed by hand from the integer
    formula to guard the cleared-denominator algebra."""
    from extractor.operators.relevance import (
        bm25_query, build_postings, doc_lengths)

    pad = "filler words all distinct here "
    rows = [
        (1, "qq " + pad),                       # tf 1, short
        (2, "qq qq qq qq " + pad),              # tf 4, short-ish
        (3, "qq " + pad * 5),                   # tf 1, long
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_postings(docs, max_df=100)
    dls = doc_lengths(docs)
    got = {r["doc"]: r["score_x1000"]
           for r in bm25_query(idx, ["qq"], dls, k=10).collect()}

    dl = {r["doc"]: r["dl"] for r in dls.collect()}
    s, n = sum(dl.values()), len(dl)
    def expect(tf, d):
        idf = n // 1  # df('qq') == 3 docs -> n // 3
        idf = n // 3
        return (1000 * idf * 22 * tf * s) // (10 * tf * s + 3 * s + 9 * dl[d] * n)
    assert got == {d: expect(tf, d) for d, tf in [(1, 1), (2, 4), (3, 1)]}
    assert got[2] < 4 * got[1]          # saturation
    assert got[3] < got[1]              # length normalization


def test_c4_rules_line_filter_and_page_drops(spark):
    """C4 semantics pinned row-by-row: quote-terminal lines survive,
    short/unterminated/javascript lines drop, and each page-level
    rule (sentences, badword, lorem, brace) vetoes independently."""
    from extractor.operators.textstats import c4_rules

    good = ('he said "it works exactly as designed."\n'
            "the second sentence holds five words.\n"
            "the third sentence also holds five.")
    rows = [
        (1, good),                                     # keeps
        (2, good + "\nshort line."),                   # short line dropped, page keeps
        (3, good + "\nthe javascript snippet tracks users here."),  # js line dropped
        (4, good.replace("second", "nsfw")),           # badword veto
        (5, good + "\nsee lorem ipsum boilerplate filler text."),   # lorem veto
        (6, good + "\nconfig { nested } values appear here."),      # brace veto
        (7, "one sentence only lives here."),          # <3 sentences
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = c4_rules(df["text"])
    out = {row["doc_id"]: row for row in df.select(
        "doc_id", r["n_kept_lines"].alias("k"), r["keep"].alias("keep"),
        r["clean_text"].alias("clean")).collect()}
    assert out[1]["keep"] and out[1]["k"] == 3
    assert out[2]["keep"] and out[2]["k"] == 3      # short line filtered out
    assert out[3]["keep"] and out[3]["k"] == 3      # js line filtered out
    assert "javascript" not in out[3]["clean"]
    assert not out[4]["keep"] and not out[5]["keep"] and not out[6]["keep"]
    assert not out[7]["keep"] and out[7]["k"] == 1  # sentence-count veto


def test_compression_ratio_accepts_string_ids(spark):
    """The id column must pass through untouched for any type — the
    tier's standard ids are urls (string) as often as hex64 longs
    (the same id-type lesson the r4 advice taught cdc dedup)."""
    from extractor.operators.compressibility import compression_stats

    df = spark.createDataFrame(
        [("https://a.test/x", "some words here"),
         ("https://b.test/y", "loop " * 200)],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r["repetitive"] for r in compression_stats(df).collect()}
    assert out == {"https://a.test/x": False, "https://b.test/y": True}


def test_mixture_plan_flags_undersized_sources(spark, tmp_path):
    """Temperature mixing must up-weight the small source past 1000
    epochs-per-mille (it repeats) while the dominant source stays
    under one epoch — the data-recipe signal the plan exists for."""
    from extractor.queries import REGISTRY

    rows = [(i, "tiny premium corpus words here", "books") for i in range(4)]
    rows += [(100 + i, "sprawling web crawl filler text " * 4, "web")
             for i in range(400)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(f"{sf}/documents.parquet")
    got = {r["source"]: r for r in
           REGISTRY["mixture_plan"].spark(spark, sf).collect()}
    assert got["books"]["epochs_x1000"] > 1000   # undersized -> repeats
    assert got["web"]["epochs_x1000"] < 1000
    # budget conservation: wants sum to <= half the corpus tokens
    total = sum(r["n_tok"] for r in got.values())
    assert sum(r["want_tok"] for r in got.values()) <= total // 2


def test_split_leakage_shuffle_path_equals_broadcast(spark):
    """broadcast_eval=False (the web-scale-eval dial) must produce
    identical counts through gram-bucketed equi-joins."""
    from extractor.operators.dedup import split_leakage

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "train"),
            (2, "eta theta iota kappa lambda mu", "train"),
            (3, "alpha beta gamma utterly new tail", "validation"),
            (4, "nu xi omicron pi rho sigma", "validation"),
            (5, "tau upsilon phi chi psi omega", "test"),
        ],
        "doc_id long, text string, split string",
    )
    canon = lambda d: sorted(tuple(r) for r in d.collect())
    assert canon(split_leakage(df, broadcast_eval=False)) == canon(
        split_leakage(df, broadcast_eval=True))


def test_spam_mass_separates_farm_from_trusted(spark):
    """Relative spam mass (Gyöngyi 2006) on the canonical farm
    fixture: the self-endorsing pair {x, y} that out-links to the
    trusted web but is never linked FROM it carries spam mass exactly
    1000‰ (all of its PageRank is unvouched); the seed itself sits at
    the bottom of the ranking; and spam mass of every node is within
    [0, 1000] by construction.  Also pins the identity case: with
    seeds == all nodes, TrustRank == PageRank, so spam mass is ~0
    everywhere (up to ppm floor rounding)."""
    from extractor.operators.webgraph import spam_mass_int

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x"), ("x", "a")],
        "src: string, dst: string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    rows = {r["node"]: r for r in spam_mass_int(edges, seeds, iterations=4).collect()}
    assert rows["x"]["spam_mass_pm"] == 1000
    assert rows["y"]["spam_mass_pm"] == 1000
    assert rows["a"]["spam_mass_pm"] == min(r["spam_mass_pm"] for r in rows.values())
    for r in rows.values():
        assert 0 <= r["spam_mass_pm"] <= 1000
        assert r["pr_ppm"] > 0

    all_nodes = spark.createDataFrame([("a",), ("b",), ("x",), ("y",)], "node string")
    ident = spam_mass_int(edges, all_nodes, iterations=3).collect()
    # identical rank vectors ⇒ identical ppm shares ⇒ mass ≈ 0;
    # the div-floor normalization can leave a ±1 ppm residue, which
    # the 1000× relative step amplifies to at most a few per-mille
    assert all(r["spam_mass_pm"] <= 5 for r in ident)


def test_tokenizer_fertility_bounds_and_long_words(spark, tmp_path):
    """Fertility is exactly 1000 for a language of sub-7-char words
    (every word is one estimated piece) and exactly 3000 for 13-char
    words (1 + 12 div 6 = 3 pieces) — the dial the estimate exists to
    expose; fertility can never dip below 1000 (>=1 token per word)."""
    from extractor.queries import REGISTRY

    rows = [(i, "alpha beta gamma delta", "aa", "w") for i in range(3)]
    rows += [(10 + i, "abcdefghijklm nopqrstuvwxyza", "zz", "w")
             for i in range(2)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(f"{sf}/documents.parquet")
    got = {r["lang"]: r for r in
           REGISTRY["tokenizer_fertility"].spark(spark, sf).collect()}
    assert got["aa"]["fertility_x1000"] == 1000
    assert got["zz"]["fertility_x1000"] == 3000
    assert got["aa"]["n_words"] == 12 and got["aa"]["n_tokens"] == 12
    assert got["zz"]["n_words"] == 4 and got["zz"]["n_tokens"] == 12


def test_host_quality_rollup_grain_and_verdict_consistency(spark):
    """The rollup is at host (source) grain, conserves doc counts, and
    its verdict column is a pure function of the aggregate columns it
    ships — recomputing the allow/review/block thresholds from mean_bp
    and keep_frac_pm must reproduce it row for row."""
    from extractor.queries import REGISTRY

    sf = SF_TINY
    out = REGISTRY["host_quality_rollup"].spark(spark, sf).collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_sources = docs.select("source").distinct().count()
    assert len(out) == n_sources
    assert sum(r["n_docs"] for r in out) == docs.count()
    for r in out:
        assert 0 <= r["mean_bp"] <= 2000
        assert 0 <= r["keep_frac_pm"] <= 1000
        if r["mean_bp"] >= 1010 and r["keep_frac_pm"] >= 500:
            want = "allow"
        elif r["mean_bp"] < 990 or r["keep_frac_pm"] < 250:
            want = "block"
        else:
            want = "review"
        assert r["verdict"] == want, r


def test_kmeans_train_reduces_inertia_and_conserves_members(spark):
    """Lloyd's iterations never increase inertia: the trained
    quantizer's total squared distance must be <= the frozen-seed
    assignment's (iterations=0 is exactly ann_ivf's frozen-subset
    scheme).  Membership is conserved (every vector lands in exactly
    one cell) and every surviving cell descends from a seed."""
    from extractor.operators.similarity import kmeans_train_int

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    seed = F.col("vec_id") % 37 == 0
    frozen = kmeans_train_int(emb, seed, iterations=0).collect()
    trained = kmeans_train_int(emb, seed, iterations=2).collect()
    assert sum(r["n_members"] for r in frozen) == n
    assert sum(r["n_members"] for r in trained) == n
    assert sum(r["inertia"] for r in trained) <= sum(r["inertia"] for r in frozen)
    seeds = {r["vec_id"] for r in emb.filter(seed).select("vec_id").collect()}
    assert {r["cell_id"] for r in trained} <= seeds


def test_surprisal_transfer_oov_and_ordering(spark):
    """A crawl doc written in the reference's common vocabulary must
    score strictly below one written in tokens the reference has
    never seen; the latter is all-OOV and charged exactly n_ref per
    token (hapax cost), so its mean IS n_ref."""
    from extractor.operators.textstats import surprisal_transfer

    ref = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        "doc_id long, text string",
    )
    crawl = spark.createDataFrame(
        [(10, "the cat on the mat"), (11, "zxq wvu qqq zzz ppp")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in surprisal_transfer(ref, crawl).collect()}
    n_ref = 12  # total reference tokens
    assert got[10]["n_oov"] == 0
    assert got[11]["n_oov"] == got[11]["n_words"] == 5
    assert got[11]["mean_surprisal"] == n_ref
    assert got[10]["mean_surprisal"] < got[11]["mean_surprisal"]


def test_meta_robots_flags_tag_scoped(spark):
    """Directives come from the robots meta tags + X-Robots-Tag header
    ONLY — a body discussing "noindex" is not opted out; attribute
    order is free; every robots tag counts, quoted or not; 'none'
    implies noindex+nofollow; noai blocks keep_for_training."""
    from extractor.operators.crawl import meta_robots_flags

    pages = spark.createDataFrame(
        [
            ("u1", '<head><meta name="robots" content="noindex"></head>'
                   "<body>ok</body>", None),
            ("u2", "<body>this page discusses noindex and noai</body>", None),
            ("u3", '<head><meta content="noai" name="robots"></head>', None),
            ("u4", "<body>plain</body>", "noarchive, noimageai"),
            ("u5", '<head><meta name="robots" content="none"></head>', None),
            ("u6", '<head><meta name="robots" content="index">'
                   '<meta name="robots" content="noai"></head>', None),
            ("u7", "<head><meta name=robots content=noindex></head>", None),
            ("u8", '<head><meta name="robotsx" content="noindex"></head>',
             None),
        ],
        "url string, html string, x_robots string",
    )
    got = {r.url: r for r in meta_robots_flags(pages, header_col="x_robots").collect()}
    assert got["u1"].noindex and not got["u1"].keep_for_training
    assert not got["u2"].noindex and not got["u2"].noai  # body trap
    assert got["u2"].keep_for_training
    assert got["u3"].noai and not got["u3"].keep_for_training  # reversed attrs
    assert got["u4"].noarchive and got["u4"].noimageai  # header-only
    assert got["u4"].keep_for_training  # neither noindex nor noai
    assert got["u5"].noindex and got["u5"].nofollow  # none alias
    # every robots tag counts, not only the first
    assert got["u6"].noai and not got["u6"].keep_for_training
    assert got["u7"].noindex  # unquoted name=robots
    assert not got["u8"].noindex  # another meta name


def test_detect_license_url_anchored(spark):
    """License comes from an <a>/<link> tag with rel="license" into
    creativecommons.org, attributes in either order — prose claims and
    bare links (an image attribution) declare nothing; NC blocks
    commercial, ND blocks derivatives, CC0 allows both, undeclared is
    NULL (not permissive)."""
    from extractor.operators.crawl import detect_license

    cc = "https://creativecommons.org"
    pages = spark.createDataFrame(
        [
            ("u1", f'<a rel="license" href="{cc}/licenses/by/4.0/">x</a>'),
            ("u2", f'<a rel="license" href="{cc}/licenses/by-nc-nd/2.5/">x</a>'),
            ("u3", f'<link rel="license" href="{cc}/publicdomain/zero/1.0/">'),
            ("u4", "<p>this work is under a creative commons license</p>"),
            ("u5", f'<a href="{cc}/licenses/by-sa/2.0/"><img src="p.jpg"></a>'),
            ("u6", f"<A HREF='{cc}/licenses/by-nc/3.0/' class=x REL='license'>x</a>"),
            ("u7", '<a rel="license" href="/terms">t</a>'
                   f'<a href="{cc}/licenses/by/2.0/"><img src="p.jpg"></a>'),
        ],
        "url string, html string",
    )
    got = {r.url: r for r in detect_license(pages).collect()}
    assert got["u1"].license_code == "by" and got["u1"].license_version == "4.0"
    assert got["u1"].allows_commercial and got["u1"].allows_derivatives
    assert got["u2"].license_code == "by-nc-nd"
    assert not got["u2"].allows_commercial and not got["u2"].allows_derivatives
    assert got["u3"].license_code == "cc0" and got["u3"].allows_commercial
    assert got["u4"].license_code is None  # prose trap
    assert got["u4"].allows_commercial is None
    # a bare image-attribution link licenses the image, not the page
    assert got["u5"].license_code is None and got["u5"].allows_commercial is None
    # href before rel, single quotes, upper case
    assert (got["u6"].license_code, got["u6"].license_version) == ("by-nc", "3.0")
    assert not got["u6"].allows_commercial
    # rel="license" and the CC link must be the same tag
    assert got["u7"].license_code is None


def test_markdown_outline_atx_traps(spark):
    """ATX headings only: column-0 '#'-run + space; indented '#' and
    '#hashtag' (no space) are body lines; depth is the #-run length;
    an unstructured doc reports max_depth 0."""
    from extractor.operators.textstats import markdown_outline

    docs = spark.createDataFrame(
        [
            (1, "# H1\n## H2a\n## H2b\n#### H4\nbody one\n\nbody two"),
            (2, "   # indented\n#hashtag\nplain body"),
            (3, "no structure at all"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in markdown_outline(docs).collect()}
    assert (got[1].n_headings, got[1].max_depth, got[1].n_h1) == (4, 4, 1)
    assert got[1].body_lines == 2  # blank line doesn't count
    assert (got[2].n_headings, got[2].max_depth) == (0, 0)
    assert got[2].body_lines == 3  # both traps are body lines
    assert (got[3].n_headings, got[3].max_depth, got[3].body_lines) == (0, 0, 1)
