"""Near-dup dedup operator tests: exact Jaccard postings-list join and
the hot-shingle document-frequency cut."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dask_felleskomponenter_spark.operators.dedup import ngram_jaccard_pairs


def _pairs(df, **kw):
    return {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", **kw).collect()
    }


def test_cap_above_max_df_is_identity(spark, sf_dir):
    """A document-frequency cap no shingle reaches must not change the
    result (the cut is a pure blacklist, not a rescoring)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = _pairs(docs, shingle_size=3, threshold=0.5)
    capped = _pairs(docs, shingle_size=3, threshold=0.5, max_shingle_df=10**9)
    assert base == capped
    assert base, "oracle-checked query should produce pairs at this SF"


def test_length_ratio_prefilter_keeps_exact_threshold_pairs(spark):
    """jaccard == threshold exactly: the multiplication-form prune
    (y >= x*t) computed 10*0.1 = 1.0000000000000002 in doubles and
    dropped the pair the final I/U >= t filter accepts; the division
    form is monotone-safe (round-6 review finding)."""
    a_text = " ".join(f"w{i}" for i in range(10))  # 10 distinct shingles
    df = spark.createDataFrame(
        [(1, a_text), (2, "w0")], ["doc_id", "text"]
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", shingle_size=1, threshold=0.1
        ).collect()
    }
    assert (1, 2) in pairs
    assert abs(pairs[(1, 2)] - 0.1) < 1e-12


def test_hot_shingle_cut_preserves_distinctive_pairs(spark):
    """Every doc shares a boilerplate phrase; A/B also share distinctive
    content. With the cut, the boilerplate shingles leave the universe:
    the A-B pair survives on its distinctive overlap while pairs related
    only through boilerplate drop out."""
    boiler = "terms of service apply to all"
    distinct_ab = "quick brown foxes jump over lazy dogs tonight"
    rows = [
        (1, f"{distinct_ab} alpha {boiler}"),
        (2, f"{distinct_ab} omega {boiler}"),
        (3, f"unrelated text about gardening and soil {boiler}"),
        (4, f"completely different musings on astronomy {boiler}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    capped = _pairs(docs, shingle_size=3, threshold=0.3, max_shingle_df=3)
    assert (1, 2) in capped
    # boilerplate-only relations must not survive the cut
    for bad in [(3, 4), (1, 3), (1, 4), (2, 3), (2, 4)]:
        assert bad not in capped

    # without the cut the boilerplate inflates every pairing
    uncapped = _pairs(docs, shingle_size=3, threshold=0.3)
    assert (1, 2) in uncapped


def test_cut_scores_are_exact_on_capped_universe(spark):
    """With the cap, jaccard = |A∩B| / |A∪B| computed over shingles with
    df <= cap — verified against a hand-computed value."""
    # A and B: 6 tokens each -> 4 trigram shingles each, sharing 3;
    # plus one boilerplate trigram present in all three docs (df=3).
    a = "w1 w2 w3 w4 w5 bb1 bb2 bb3"
    b = "w0 w2 w3 w4 w5 bb1 bb2 bb3"
    c = "zz yy xx bb1 bb2 bb3"
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id bigint, text string"
    )
    got = _pairs(docs, shingle_size=3, threshold=0.1, max_shingle_df=2)
    # capped universe per doc: shingles touching bb* survive if df<=2.
    # trigrams of a: (w1 w2 w3)(w2 w3 w4)(w3 w4 w5)(w4 w5 bb1)(w5 bb1 bb2)(bb1 bb2 bb3)
    # df: (bb1 bb2 bb3) appears in all 3 docs -> cut. All others df<=2.
    # a-set: 5 shingles, b-set: 5 shingles
    # shared: (w2 w3 w4)(w3 w4 w5)(w4 w5 bb1)(w5 bb1 bb2) = 4
    # union = 5 + 5 - 4 = 6 -> jaccard = 4/6
    assert (1, 2) in got
    assert got[(1, 2)] == pytest.approx(4 / 6)


class TestUdx:
    """UDAF/UDTF surfaces (functions/udx.py)."""

    def test_geometric_mean_handles_empty_and_nonpositive(self, spark):
        from dask_felleskomponenter_spark.functions.udx import geometric_mean

        df = spark.createDataFrame(
            [("a", 2.0), ("a", 8.0), ("b", -1.0), ("b", 0.0)],
            "g string, v double",
        )
        got = {
            r["g"]: r["gm"]
            for r in df.groupBy("g").agg(geometric_mean("v").alias("gm")).collect()
        }
        assert got["a"] == pytest.approx(4.0)
        assert got["b"] is None  # no positive values -> SQL-style NULL

    def test_chunk_udtf_rows(self, spark):
        from dask_felleskomponenter_spark.functions.udx import register_udx

        register_udx(spark)
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, ""), (3, None), (4, "\txy \n")],
            "id bigint, text string",
        )
        df.createOrReplaceTempView("_t_chunks")
        rows = spark.sql(
            "SELECT id, c.* FROM _t_chunks, LATERAL chunk_document(text, 3, 2) c"
            " ORDER BY id, chunk_index"
        ).collect()
        got = [(r["id"], r["chunk_index"], r["chunk_text"], r["n_tokens"]) for r in rows]
        assert got == [
            (1, 0, "a b c", 3),
            (1, 1, "c d e", 3),
            (1, 2, "e", 1),
            # id=2 (empty text) and id=3 (NULL text) yield no rows: a
            # document with no tokens has no chunks (round-9 change —
            # the phantom ''-token chunk is gone)
            # id=4: tab/VT/newline padding drops cleanly, no '' tokens
            (4, 0, "x y", 2),
        ]


def test_fingerprint_df_matches_column_form(spark, sf_dir):
    """The DataFrame-op fingerprint (posexplode + window-lead) must be
    value-identical to the interpreted column form, including short and
    empty documents."""
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.functions import text as TX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    extra = spark.createDataFrame(
        # 9005 (NULL text) pins the outer-explode fix: a plain explode
        # silently DROPPED NULL-text docs from the DataFrame form while
        # the column form returned them with a NULL fingerprint.
        [
            (9001, ""),
            (9002, "one two"),
            (9003, "   "),
            (9004, "a b c d e f g h i"),
            (9005, None),
        ],
        "doc_id bigint, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(extra)
    col_form = {
        r["doc_id"]: r["fp"]
        for r in docs.select(
            "doc_id", TX.rolling_fingerprint_md5("text").alias("fp")
        ).collect()
    }
    df_form = {
        r["doc_id"]: r["fingerprint"]
        for r in TX.rolling_fingerprint_df(docs, "doc_id", "text").collect()
    }
    assert col_form == df_form

    xx_col = {
        r["doc_id"]: r["fp"]
        for r in docs.select(
            "doc_id", TX.rolling_fingerprint("text").alias("fp")
        ).collect()
    }
    xx_df = {
        r["doc_id"]: r["fingerprint"]
        for r in TX.rolling_fingerprint_df(
            docs, "doc_id", "text", hash_fn=F.xxhash64
        ).collect()
    }
    assert xx_col == xx_df


class TestSketchSCurve:
    """Statistical ground-truth tests pinning the rows-only sketches
    (MinHash+LSH, SimHash) to exact Jaccard on a controlled corpus.

    Corpus construction: ``n_pairs`` document pairs, each in its own
    token namespace (``p{i}w{j}``) so cross-pair Jaccard is exactly 0 and
    the only designed signal is within-pair overlap. With ``shingle_size=1``
    the shingle set IS the token set, so true Jaccard is m/(2k-m) by
    construction (k tokens per doc, m shared). Everything is xxhash64 on
    fixed strings — fully deterministic, no flake margin needed beyond
    the documented S-curve expectation.
    """

    N_PAIRS = 25
    K = 40  # tokens per document

    @staticmethod
    def _corpus(spark, shared: int):
        rows = []
        for i in range(TestSketchSCurve.N_PAIRS):
            common = [f"p{i}c{j}" for j in range(shared)]
            only_a = [f"p{i}a{j}" for j in range(TestSketchSCurve.K - shared)]
            only_b = [f"p{i}b{j}" for j in range(TestSketchSCurve.K - shared)]
            rows.append((2 * i, " ".join(common + only_a)))
            rows.append((2 * i + 1, " ".join(common + only_b)))
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def _lsh_pairs(self, spark, shared):
        from dask_felleskomponenter_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        docs = self._corpus(spark, shared)
        sigs = minhash_signatures(docs, "doc_id", "text", shingle_size=1)
        return {
            (r["id_a"], r["id_b"])
            for r in lsh_candidate_pairs(sigs, "doc_id").collect()
        }

    def test_lsh_recalls_high_jaccard_pairs(self, spark):
        # m=34, k=40 -> J = 34/46 ~= 0.739; S-curve P(collide) with
        # b=16, r=4 is 1-(1-0.739^4)^16 ~= 0.996 -> expect essentially
        # all 25 designed pairs as candidates.
        got = self._lsh_pairs(spark, shared=34)
        designed = {(2 * i, 2 * i + 1) for i in range(self.N_PAIRS)}
        recalled = got & designed
        assert len(recalled) >= int(0.9 * self.N_PAIRS), (
            f"LSH recalled only {len(recalled)}/{self.N_PAIRS} pairs "
            f"with true Jaccard 0.74"
        )

    def test_lsh_rejects_low_jaccard_pairs(self, spark):
        # m=10, k=40 -> J = 10/70 ~= 0.143; P(collide) ~= 0.007 -> the
        # designed pairs should essentially never band together, and
        # cross-pair (J=0) collisions require a 64-bit bucket-hash
        # collision.
        got = self._lsh_pairs(spark, shared=10)
        assert len(got) <= 2, (
            f"LSH produced {len(got)} candidate pairs from a corpus whose "
            f"max true Jaccard is 0.14: {sorted(got)[:5]}"
        )

    def test_simhash_separates_similar_from_dissimilar(self, spark):
        from pyspark.sql import functions as F

        from dask_felleskomponenter_spark.functions.text import (
            hamming64,
            simhash_signatures,
        )

        def dists(shared):
            docs = self._corpus(spark, shared)
            sigs = simhash_signatures(docs, "doc_id", "text")
            a = sigs.withColumn("pair", (F.col("doc_id") / 2).cast("long"))
            paired = (
                a.groupBy("pair")
                .agg(F.min("simhash").alias("s1"), F.max("simhash").alias("s2"))
                .select(hamming64(F.col("s1"), F.col("s2")).alias("d"))
            )
            return [r["d"] for r in paired.collect()]

        high = dists(shared=34)  # J ~= 0.74
        low = dists(shared=10)  # J ~= 0.14
        mean_high = sum(high) / len(high)
        mean_low = sum(low) / len(low)
        # 64-bit SimHash: unrelated docs sit near 32 bits apart; near-dups
        # well below. The two distributions must be cleanly separated.
        assert mean_high < mean_low - 8, (mean_high, mean_low)
        assert max(high) < 64 / 2, f"a 0.74-Jaccard pair hashed {max(high)} bits apart"

    def test_simhash_signatures_match_column_form(self, spark):
        """The DataFrame-op scale path and the per-bit column expression
        must produce identical 64-bit fingerprints — including the
        degenerate rows (empty text, whitespace-only text, one token)
        where the vote count is 0 or ties are possible."""
        from pyspark.sql import functions as F

        from dask_felleskomponenter_spark.functions.text import (
            simhash64,
            simhash_signatures,
        )

        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, ""),
            (4, "   "),
            (5, "single"),
            (6, "a b a b"),
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        fast = {
            r["doc_id"]: r["simhash"]
            for r in simhash_signatures(docs, "doc_id", "text").collect()
        }
        slow = {
            r["doc_id"]: r["s"]
            for r in docs.select(
                "doc_id", simhash64("text").alias("s")
            ).collect()
        }
        assert fast == slow
        assert fast[3] == 0 and fast[4] == 0


class TestDuplicatedSpans:
    """ExactSubstr-style duplicated-span detection
    (``operators/dedup.py::duplicated_spans``)."""

    def _spans(self, spark, rows, **kw):
        from dask_felleskomponenter_spark.operators.dedup import duplicated_spans

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = duplicated_spans(df, "doc_id", "text", **kw)
        return {
            (r["doc_id"], r["span_start"], r["span_end"]): r["span_tokens"]
            for r in out.collect()
        }

    def test_unknown_hash_family_raises(self, spark):
        """A typo'd hash_family must fail at plan-build time, not
        silently hash with xxhash64 and never match the md5 oracle the
        parameter exists for (round-7 review finding; same contract as
        lsh_band_buckets' validation)."""
        import pytest as _pytest

        from dask_felleskomponenter_spark.operators.dedup import (
            duplicated_spans,
        )

        df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
        with _pytest.raises(ValueError, match="hash_family"):
            duplicated_spans(df, "doc_id", "text", hash_family="md-5")

    def test_shared_passage_merges_to_one_maximal_span(self, spark):
        """A 12-token passage shared by two docs yields 5 overlapping
        8-gram hits per doc that must merge into ONE maximal span
        covering exactly the passage."""
        passage = "a b c d e f g h i j k l"  # 12 tokens
        rows = [
            (1, f"x1 x2 x3 {passage} y1 y2 y3"),
            (2, f"z1 {passage} z2 z3 z4 z5 z6"),
        ]
        spans = self._spans(spark, rows, k=8)
        # doc 1: passage at token offsets 3..15; doc 2: 1..13
        assert spans == {(1, 3, 15): 12, (2, 1, 13): 12}

    def test_internal_repeat_does_not_flag(self, spark):
        """A doc repeating its own 8-gram (no other doc shares it) must
        produce no span — duplication is cross-document only."""
        rep = "p q r s t u v w"
        rows = [
            (1, f"{rep} filler1 filler2 {rep}"),
            (2, "totally unrelated words nothing shared here at all ok"),
        ]
        assert self._spans(spark, rows, k=8) == {}

    def test_short_docs_excluded(self, spark):
        """Documents under k tokens never participate (whole-doc dups
        are exact-dedup's job)."""
        rows = [(1, "tiny doc"), (2, "tiny doc")]
        assert self._spans(spark, rows, k=8) == {}

    def test_disjoint_passages_stay_separate_spans(self, spark):
        """Two shared passages split by unshared filler must NOT merge."""
        p1 = "a1 a2 a3 a4 a5 a6 a7 a8"
        p2 = "b1 b2 b3 b4 b5 b6 b7 b8"
        rows = [
            (1, f"{p1} mid1 mid2 mid3 {p2}"),
            (2, f"{p1} other filler words here {p2}"),
        ]
        spans = self._spans(spark, rows, k=8)
        assert {key for key in spans if key[0] == 1} == {(1, 0, 8), (1, 11, 19)}

    def test_md5_twin_matches_xxhash64(self, spark, sf_dir):
        """The oracle-portable md5 family selects identical spans to the
        production xxhash64 family on real data."""
        from dask_felleskomponenter_spark.operators.dedup import duplicated_spans

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        a = duplicated_spans(docs, "doc_id", "text", k=8).collect()
        b = duplicated_spans(
            docs, "doc_id", "text", k=8, hash_family="md5"
        ).collect()
        key = lambda r: (r["doc_id"], r["span_start"], r["span_end"])
        assert sorted(map(key, a)) == sorted(map(key, b))
        assert a, "sf testdata plants shared passages; expected spans"


def _model_spans(rows, k):
    """Driver-side reference for duplicated_spans: brute-force shingle
    ownership + island merge over token lists."""
    from collections import defaultdict

    toks = {i: t.split() for i, t in rows}
    owners = defaultdict(set)
    for i, ts in toks.items():
        if len(ts) < k:
            continue
        for p in range(len(ts) - k + 1):
            owners[tuple(ts[p : p + k])].add(i)
    spans = set()
    for i, ts in toks.items():
        if len(ts) < k:
            continue
        cur = None
        for p in range(len(ts) - k + 1):
            if len(owners[tuple(ts[p : p + k])]) < 2:
                continue
            if cur is not None and p <= cur[1]:
                cur = (cur[0], p + k)
            else:
                if cur is not None:
                    spans.add((i, *cur))
                cur = (p, p + k)
        if cur is not None:
            spans.add((i, *cur))
    return spans


class TestDuplicatedSpansModel:
    """Differential test vs a brute-force model on collision-rich tiny
    corpora (3-word vocab ⇒ shared k-grams everywhere)."""

    @settings(max_examples=12, deadline=None)
    @given(
        corpora=st.lists(
            st.lists(st.sampled_from("abc"), min_size=0, max_size=12),
            min_size=2,
            max_size=5,
        )
    )
    def test_matches_model(self, spark, corpora):
        rows = [(i, " ".join(words)) for i, words in enumerate(corpora)]
        from dask_felleskomponenter_spark.operators.dedup import duplicated_spans

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in duplicated_spans(df, "doc_id", "text", k=3).collect()
        }
        assert got == _model_spans(rows, 3)


class TestRound10ReviewFindings:
    """Regression pins for the round-10 joins/aggregates/dedup review."""

    def test_blank_and_null_docs_never_band(self, spark):
        """A million blank docs used to share ONE hash-of-null signature,
        collide in every band, and turn the candidate self-join
        quadratic. NULL-text and zero-token docs now get a NULL
        signature and produce no buckets and no pairs."""
        from dask_felleskomponenter_spark.operators.dedup import (
            lsh_band_buckets,
            lsh_candidate_pairs,
            minhash_signatures,
        )

        rows = [(1, None), (2, ""), (3, "   \t "), (4, None)]
        rows += [(10, "the quick brown fox jumps over the lazy dog")]
        rows += [(11, "the quick brown fox jumps over the lazy dog")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sigs = minhash_signatures(df, "doc_id", "text")
        by_id = {r.doc_id: r.minhash_sig for r in sigs.collect()}
        assert by_id[1] is None and by_id[2] is None and by_id[3] is None
        assert by_id[10] is not None and by_id[10] == by_id[11]
        buckets = lsh_band_buckets(sigs, "doc_id")
        assert buckets.filter("doc_id < 10").count() == 0
        pairs = {
            (r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs, "doc_id").collect()
        }
        assert pairs == {(10, 11)}

    def test_lsh_hot_bucket_cap(self, spark):
        """Buckets over max_bucket_size are excluded from pair
        generation; None restores the unbounded join."""
        from dask_felleskomponenter_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
        )

        # 8 identical docs -> one 8-member bucket in every band
        df = spark.createDataFrame(
            [(i, "alpha beta gamma delta epsilon zeta") for i in range(8)],
            "doc_id long, text string",
        )
        sigs = minhash_signatures(df, "doc_id", "text")
        capped = lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=4)
        assert capped.count() == 0
        uncapped = lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=None)
        assert uncapped.count() == 8 * 7 // 2

    def test_minhash_rejects_staging_name_collisions(self, spark):
        import pytest as _pytest

        from dask_felleskomponenter_spark.operators.dedup import (
            minhash_signatures,
        )

        df = spark.createDataFrame([("a", "x y z")], "_s string, text string")
        with _pytest.raises(ValueError, match="staging"):
            minhash_signatures(df, "_s", "text")
        df2 = spark.createDataFrame([("a", "x y z")], "id string, text string")
        with _pytest.raises(ValueError, match="sig_col"):
            minhash_signatures(df2, "id", "text", sig_col="id")

    def test_exact_dedup_rejects_hash_out_collision(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from dask_felleskomponenter_spark.operators.dedup import exact_dedup

        df = spark.createDataFrame(
            [(1, "t")], "doc_id long, text string"
        )
        with _pytest.raises(ValueError, match="hash_out"):
            exact_dedup(df, "text", [F.col("doc_id")], hash_out="doc_id")

    def test_join_guards_raise_loudly(self, spark):
        import pytest as _pytest

        from dask_felleskomponenter_spark.operators.joins import (
            asof_join,
            equi_join,
            salted_join,
        )

        df = spark.createDataFrame([(1, 2)], "a long, b long")
        with _pytest.raises(ValueError, match="cartesian"):
            equi_join(df, df, [])
        with _pytest.raises(ValueError, match="salt_buckets"):
            salted_join(df, df, ["a"], salt_buckets=0)
        ev = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 1.0)],
            "k long, ts string, v double",
        )
        with _pytest.raises(ValueError, match="key column"):
            asof_join(ev, ev, [], "ts", "ts", ["v"])

    def test_interval_join_key_named_ts_works(self, spark):
        """A join key literally named 'ts' used to collide with the
        internal '_rng_ts' tag alias (AMBIGUOUS_REFERENCE at plan
        build); fresh_name now avoids the generated key aliases."""
        import datetime as dt

        from dask_felleskomponenter_spark.operators.joins import interval_join

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        left = spark.createDataFrame(
            [(1, t0)], "ts long, click_time timestamp"
        )
        right = spark.createDataFrame(
            [(1, t0 - dt.timedelta(seconds=30), "err")],
            "ts long, event_time timestamp, msg string",
        )
        out = interval_join(
            left, right, ["ts"], "click_time", "event_time",
            -60.0, 0.0, ["msg"],
        ).collect()
        assert len(out) == 1 and out[0]["rng_msg"] == "err"
