"""Differential fuzz: declared queries vs their DuckDB oracles on
RANDOM corpora, not just the fixed driver testdata.

The oracle-parity suite proves each query/oracle pair agrees on one
dataset; this harness re-runs the hardest text-family pairs on
synthetic corpora with planted duplication, hot tokens, unicode, and
degenerate documents — the regimes where a Spark/SQL mirror quietly
diverges (tokenization of empties, tie-breaks, three-valued logic,
boundary conditions).
"""

from __future__ import annotations

import math
import random
import zlib

import pytest
from pyspark.sql import functions as F

from dask_felleskomponenter_spark.plans.oracles import ORACLES
from dask_felleskomponenter_spark.plans.queries import QUERIES

#: Query names safe to fuzz with a documents-only corpus.
FUZZ_QUERIES = [
    "domain_quota_topn",
    "dedup_substring_spans",
    "dedup_canonical_docs",
    "dedup_cross_batch_novelty",
    "quality_ensemble_buckets",
    "fuzzy_blocked_match",
    "neardup_jaccard_pairs",
    "tfidf_top_terms",
    "text_quality_profile",
    "string_fns_documents",
    "lang_id_documents",
    "ngram_top_bigrams",
    "repetition_profile_documents",
    "unigram_logprob_score",
    "contamination_ngram_screen",
    "pack_sequences_offsets",
    "mixture_temperature_sample",
    "pii_redact_profile",
    "sample_hash_stratified",
    "fingerprint_documents",
    "dedup_exact_docs",
    "dedup_exact_summary",
    "neardup_cluster_assign",
    "pipeline_training_corpus",
    "udtf_chunk_documents",
    "multimodal_decode_profile",
    "multimodal_audio_profile",
    "multimodal_audio_features",
    "multimodal_image_profile",
    "multimodal_video_profile",
    # round-9 additions: token-set algebra and all-matches regex harvest
    # over the same hostile text classes (unicode, \x0b, empty docs)
    "set_algebra_token_halves",
    "regexp_extract_all_words",
    # round-10 additions: NULL text must contribute zero BM25 terms and
    # zero entropy mass identically per engine; the eqNullSafe lang join
    # keeps a NULL-lang group a real group on both sides
    "bm25_doc_scores",
    "entropy_source_by_lang",
]

_VOCAB = (
    "the and of deep learning spark data modell trening blåbær "
    "Deep The AND x1 y2 z3 -- ... 42"
).split()

#: ASCII-only vocab for queries whose Spark metric is CHARACTER-level
#: while the DuckDB oracle counts BYTES (levenshtein): the engines agree
#: exactly when bytes == chars, so the portability shim lives here on
#: the test side and the production query stays unicode-correct.
_ASCII_VOCAB = [w.replace("å", "aa").replace("æ", "ae") for w in _VOCAB]

#: Queries needing the ASCII-only corpus (byte-vs-char metric families).
_ASCII_ONLY = {"fuzzy_blocked_match"}


#: Planted multi-script token pools (round-10 fuzz classes, per the
#: round-9 tokenizer fix): the three tokenizer surfaces (Spark
#: [\s\p{Z}], DuckDB [\s\x0b\p{Z}], Python _WS) must split CJK text on
#: U+3000 IDEOGRAPHIC SPACE, Cyrillic on plain space, and mixed-script
#: runs identically — a surface that regresses to ASCII \s (or bare
#: \S+) diverges on every one of these documents, not just on the NBSP
#: single-char class planted below.
_CJK_TOKENS = ["深層", "学習", "モデル", "訓練", "データ", "言語"]
_CYR_TOKENS = ["глубокое", "обучение", "модель", "данные", "язык"]
_MIXED_TOKENS = ["deep", "обучение", "学習", "data", "blåbær", "x1"]


def _multiscript_docs(rng: random.Random, start_id: int):
    """Deterministic multi-script planted documents (ids from start_id).

    Includes exact duplicates and near-duplicates inside each script
    family so the dedup/jaccard/cluster fuzz queries get cross-doc
    signal on non-Latin text, not just parse coverage.
    """
    docs = []
    # CJK joined by U+3000 IDEOGRAPHIC SPACE (the \p{Z} member Java's
    # bare \s does not match)
    for i in range(4):
        toks = [rng.choice(_CJK_TOKENS) for _ in range(6)]
        docs.append("　".join(toks))
    docs.append(docs[0])  # exact CJK duplicate
    for i in range(4):
        toks = [rng.choice(_CYR_TOKENS) for _ in range(7)]
        docs.append(" ".join(toks))
    docs.append(docs[5].replace(" ", " ", 1))  # NBSP-split near-dup
    for i in range(4):
        toks = [rng.choice(_MIXED_TOKENS) for _ in range(8)]
        # mixed separators: space, NBSP, ideographic space in one doc
        seps = [rng.choice([" ", " ", "　"]) for _ in toks[1:]]
        docs.append(toks[0] + "".join(s + t for s, t in zip(seps, toks[1:])))
    return [
        (start_id + j, t, rng.choice(["ja", "ru", "mix"]), "srcms", len(t))
        for j, t in enumerate(docs)
    ]


def _corpus(
    seed: int, n_docs: int, vocab: list[str] = _VOCAB
) -> list[tuple[int, str, str, str, int]]:
    rng = random.Random(seed)
    rows = []
    shared = " ".join(rng.choice(vocab) for _ in range(12))  # planted passage
    for i in range(n_docs):
        n = rng.randint(0, 40)
        words = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.3:  # plant cross-doc duplication
            at = rng.randint(0, max(len(words) - 1, 0))
            words[at:at] = shared.split()
        if rng.random() < 0.1 and rows:  # exact duplicate of an earlier doc
            text = rows[rng.randrange(len(rows))][1]
        else:
            text = " ".join(words)
            # plant vertical tab: Java's \s matches U+000B, RE2's does
            # not — oracles must spell whitespace as [\s\x0b] (round-6
            # review finding; the planted class keeps them honest)
            if len(words) >= 2 and rng.random() < 0.15:
                text = text.replace(" ", "\x0b", 1)
            # plant NBSP (U+00A0): since round 9 ALL THREE tokenizer
            # surfaces treat it as whitespace via \p{Z} (Spark
            # [\s\p{Z}], DuckDB [\s\x0b\p{Z}], Python's explicit
            # separator class) — this class keeps them agreeing; a
            # surface that drops \p{Z} (or un-pins re.ASCII, picking up
            # U+0085 etc.) diverges here
            if len(words) >= 3 and rng.random() < 0.12:
                at = text.find(" ", 2)
                if at > 0:
                    text = text[:at] + " " + text[at + 1:]
        # every 31st document has NULL text: tokenizer guards, COALESCEd
        # counters, and quality gates must normalize it identically per
        # engine (round-10 review: un-normalized NULL text scored 0.70
        # quality in DuckDB via NULL-skipping LEAST/GREATEST where Spark
        # scored 0.0)
        if i % 31 == 7:
            text = None
        rows.append(
            (
                i,
                text,
                rng.choice(["en", "de", "und"]),
                f"src{i % 3}",
                len(text) if text is not None else 0,
            )
        )
    if vocab is not _ASCII_VOCAB:
        # multi-script planted classes (CJK/Cyrillic/mixed, see
        # _multiscript_docs) — off for the ASCII corpus, whose point is
        # byte==char levenshtein parity
        rows.extend(_multiscript_docs(rng, n_docs))
    return rows


def _norm(v):
    import decimal

    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v + 0.0, 9)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


_SKEY = lambda t: tuple((x is None, repr(x)) for x in t)  # noqa: E731


def _compare(spark, con, name, sf_dir, label=""):
    """Run QUERIES[name] and ORACLES[name] against the same corpus and
    assert value parity (sorted, normalized). Column NAMES are asserted
    too — without it a renamed oracle alias silently compared
    misaligned columns (single-column renames false-passed entirely).
    One comparator for every fuzz family so a normalization fix lands
    once (round-9 review: eight inline copies had already drifted in
    their assert messages only)."""
    tag = f"{name}{' ' + label if label else ''}"
    sdf = QUERIES[name](spark, sf_dir)
    cur = con.execute(ORACLES[name])
    cols = [d[0] for d in cur.description]
    assert sorted(sdf.columns) == sorted(cols), (
        f"{tag}: column names diverge: {sorted(sdf.columns)} vs "
        f"{sorted(cols)}"
    )
    got = sorted(
        (tuple(_norm(r[c]) for c in sorted(sdf.columns))
         for r in sdf.collect()),
        key=_SKEY,
    )
    want = sorted(
        (tuple(_norm(dict(zip(cols, row))[c]) for c in sorted(cols))
         for row in cur.fetchall()),
        key=_SKEY,
    )
    assert got == want, f"{tag} diverged: {got[:3]} vs {want[:3]} " \
        f"({len(got)} vs {len(want)} rows)"



@pytest.mark.parametrize("seed", [11, 23])
@pytest.mark.parametrize("name", FUZZ_QUERIES)
def test_query_matches_oracle_on_random_corpus(spark, tmp_path, name, seed):
    import duckdb
    import pandas as pd

    rows = _corpus(
        seed * 1000 + zlib.crc32(name.encode()) % 997,
        60,
        vocab=_ASCII_VOCAB if name in _ASCII_ONLY else _VOCAB,
    )
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(pdf).coalesce(2).write.parquet(
        f"{sf_dir}/documents.parquet"
    )


    con = duckdb.connect()
    con.register("documents", pdf)
    _compare(spark, con, name, sf_dir, label=f"seed {seed}")


@pytest.mark.parametrize("seed", [13, 29])
def test_fuzzy_blocked_match_unicode_distance_relation(spark, tmp_path, seed):
    """Oracle coverage for fuzzy_blocked_match on NON-ASCII text.

    Exact parity is impossible here — DuckDB 1.0 ``levenshtein`` counts
    BYTES where Spark counts CHARS — but the divergence is one-sided
    and provable: an optimal byte edit script touching k bytes induces
    a char edit script touching at most k chars, so byte distance ≥
    char distance for every UTF-8 pair. The declared blocking keys
    (token splits, char-based substr, md5 bands) are engine-identical.
    Therefore on ANY corpus:

    1. every pair the oracle keeps (byte_d ≤ 10), Spark must keep too
       (char_d ≤ byte_d ≤ 10) — a violation means the BLOCKING diverged,
       which the ASCII family can't see on key families that only
       differ on unicode;
    2. on shared pairs, oracle distance ≥ Spark distance, with equality
       whenever both prefixes are pure ASCII;
    3. Spark-only pairs must involve a non-ASCII prefix (the only
       legitimate cause: char_d ≤ 10 < byte_d).

    This restores unicode oracle coverage for the one query the exact
    fuzz family must run ASCII-only (round-9 ADVICE item)."""
    import duckdb
    import pandas as pd

    rows = _corpus(seed * 5077 + 1, 80)  # includes multi-script classes
    # extra planted Cyrillic near-identical pair sharing a first token:
    # а (D0 B0) vs я (D1 8F) differ in BOTH UTF-8 bytes, so char
    # distance 2 but byte distance 4 — guarantees the char≠byte
    # divergence actually fires (the relation is non-vacuous)
    rows += [
        (9001, "модель обучения аа", "ru", "srcp", 18),
        (9002, "модель обучения яя", "ru", "srcp", 18),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    sf_dir = str(tmp_path)
    spark.createDataFrame(pdf).coalesce(2).write.parquet(
        f"{sf_dir}/documents.parquet"
    )
    con = duckdb.connect()
    con.register("documents", pdf)

    got = {
        (r.id_a, r.id_b): r.distance
        for r in QUERIES["fuzzy_blocked_match"](spark, sf_dir).collect()
    }
    want = {
        (a, b): d
        for a, b, d in con.execute(ORACLES["fuzzy_blocked_match"]).fetchall()
    }
    pfx = {
        i: (t.strip(" ") if t is not None else "")[:40]
        for i, t, *_ in rows
        if t is not None and t.strip(" ") != ""
    }

    assert set(want) <= set(got), (
        "blocking diverged: oracle kept pairs Spark never produced: "
        f"{sorted(set(want) - set(got))[:5]}"
    )
    for pair, byte_d in want.items():
        char_d = got[pair]
        assert byte_d >= char_d, (pair, byte_d, char_d)
        if pfx[pair[0]].isascii() and pfx[pair[1]].isascii():
            assert byte_d == char_d, (pair, byte_d, char_d)
    spark_only = set(got) - set(want)
    for a, b in spark_only:
        assert not (pfx[a].isascii() and pfx[b].isascii()), (
            f"pair ({a},{b}) dropped by the oracle despite pure-ASCII "
            f"prefixes — not a byte-vs-char artifact"
        )
    # the planted Cyrillic near-pair must be matched by Spark (char
    # distance 2); whether the oracle keeps it depends only on the
    # byte distance (4 ≤ 10 ⇒ it should also keep it)
    assert (9001, 9002) in got and got[(9001, 9002)] == 2
    assert want.get((9001, 9002)) == 4


#: Events-family queries fuzzable with a random events table. The
#: boundary-heavy shapes: session gaps, as-of races, interval joins,
#: calendar buckets.
FUZZ_EVENT_QUERIES = [
    "window_lag_sessionize",
    "session_window_events",
    "funnel_conversion_events",
    "asof_last_error_before_click",
    "range_join_error_context",
    "resample_ffill_events",
    "cohort_retention_events",
    "tumbling_window_events",
    "json_fns_events",
    "skew_profile_event_keys",
    "date_fns_events",
    "map_fns_events",
    "variant_fns_events",
    "agg_salted_user_events",
    "theta_cohort_overlap",
    "join_salted_user_events",
    "interval_coalesce_events",
    "twap_events",
    "scd2_event_type_runs",
    "markov_transitions_events",
    "cdc_latest_per_key",
    "map_zip_with_merge_profiles",
    "bitmap_hour_activity",
    "try_cast_typed_backfill",
    # planted NULL value / NULL type classes are what IGNORE NULLS
    # must skip identically per engine
    "window_first_last_ignore_nulls",
    # reads only the small customer dim this family also writes
    "bool_flags_by_segment",
    # round-9 additions: k=v round-trip profile and the map
    # filter/concat explode — planted NULL type/user classes ride the
    # COALESCE sentinels and the reserved '__n__' key
    "str_to_map_event_kv",
    "map_filter_concat_profile",
    # round-10 addition: planted NULL ts / NULL user rows must be
    # excluded from first-seen on both engines, and the running sum
    # must hold over the irregular planted day spine
    "cumulative_distinct_users",
    # batch 2: Wilson bound over the planted NULL value / NULL type
    # classes (a NULL type is a real group; NULL values count in
    # neither n nor successes)
    "wilson_ctr_event_types",
]

_ETYPES = ["click", "error", "purchase", "view", "signup"]


def _events_corpus(seed: int, n: int):
    import datetime as dt

    rng = random.Random(seed)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(n):
        # every 29th event has NO user: theta/distinct-count oracles must
        # skip the NULL member exactly like the engine-side aggregates
        user = None if i % 29 == 7 else rng.randint(1, 8)
        # cluster timestamps and PLANT exact 30-min gap boundaries
        step = rng.choice([0, 1, 59, 60, 1799, 1800, 1801, 86_400])
        ts = base + dt.timedelta(
            seconds=rng.randint(0, 6) * 3600 + step + i % 7
        )
        # every 43rd ts is NULL: interval/ordering queries must either
        # filter it or pin its sort position (NULLS FIRST) — engines
        # disagree on the ASC default, and a timestamp-less event must
        # never silently join a session/island
        if i % 43 == 17:
            ts = None
        # every 23rd props lacks the "k" key: map/variant extraction must
        # sentinel a missing key, not assume it (ANSI element_at class)
        props = (
            f'{{"x": {rng.randint(0, 99)}}}'
            if i % 23 == 11
            else f'{{"k": {rng.randint(0, 99)}}}'
        )
        rows.append(
            (
                i,
                ts,
                user,
                # every 41st type is NULL: null-safe change detection
                # (IS DISTINCT FROM) must treat it as a VALUE — plain <>
                # would fuse runs across it — and equality filters must
                # drop it identically on both engines
                None if i % 41 == 13 else rng.choice(_ETYPES),
                # every 31st value is NULL: an observed hour whose events
                # are all NULL-valued has NULL hour_avg — resample must
                # flag it as a gap and forward-fill it (not emit its own
                # NULL as an "observed" value), and the AVG/SUM oracles
                # must skip NULLs identically on both engines.
                # Every 13th value is an exact-.005 double-representation
                # trap (1.005 stores as 1.00499…, 2.675 as 2.67499…):
                # ROUND(value*100) and CAST(value AS DECIMAL(14,2)) sit on
                # the engines' rounding-mode boundary there — twap_events
                # and resample_ffill_events must quantize identically
                None
                if i % 31 == 3
                else (
                    rng.choice(
                        [1.005, 2.675, 0.125, 0.135, -1.005, 3.555,
                         100.005, 0.005, -2.675]
                    )
                    if i % 13 == 4
                    else round(rng.uniform(-5, 100), 2)
                ),
                props,
            )
        )
    return rows


@pytest.mark.parametrize("seed", [5, 17])
@pytest.mark.parametrize("name", FUZZ_EVENT_QUERIES)
def test_event_query_matches_oracle_on_random_events(spark, tmp_path, name, seed):
    import duckdb
    import pandas as pd

    rows = _events_corpus(seed * 7919 + zlib.crc32(name.encode()) % 997, 300)
    sf_dir = str(tmp_path)
    # explicit DDL, not pandas inference: NULL user_id must stay BIGINT
    # (pandas would promote the column to float64)
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).coalesce(2).write.parquet(f"{sf_dir}/events.parquet")
    # small consistent customer dim for the stream⋈dim queries.
    # Explicit DDL + one ingestion path (Spark writes, DuckDB reads the
    # same parquet), NOT a registered pandas frame: a None balance in a
    # pandas float64 column is NaN, which Spark would ingest as NaN
    # while DuckDB register() yields SQL NULL — the planted NULL class
    # would reach the engines as DIFFERENT values.
    rng = random.Random(seed)
    cust_rows = [
        (c, f"Customer#{c}", rng.randint(0, 4),
         # customer 3's balance is NULL: bool_and/bool_or must SKIP
         # it (SQL aggregate semantics) while count_if counts it
         # false — the three-valued-logic class bool_flags_by_segment
         # pins
         None if c == 3
         else round(rng.randint(-9999, 99999) / 100.0, 2),
         rng.choice(["BUILDING", "MACHINERY", "HOUSEHOLD"]))
        for c in range(1, 7)  # fewer customers than user_ids: misses
    ]
    spark.createDataFrame(
        cust_rows,
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.parquet(f"{sf_dir}/customer.parquet")


    con = duckdb.connect()
    # read the SAME parquet Spark wrote — one ingestion path, NULL
    # user_id arrives as BIGINT NULL on both engines
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    con.execute(
        f"CREATE VIEW customer AS "
        f"SELECT * FROM '{sf_dir}/customer.parquet/*.parquet'"
    )
    _compare(spark, con, name, sf_dir, label=f"seed {seed}")


#: Orders-family queries fuzzable with a random orders table —
#: calendar windows, running totals, rounding-sensitive aggregates.
FUZZ_ORDER_QUERIES = [
    "window_range_7day_spend",
    "date_arith_orders",
    "window_running_total",
    "window_topn_orders_per_customer",
    "topk_expensive_orders",
    "agg_orders_stats",
    "agg_rollup_status_priority",
    "grouping_sets_orders",
    "agg_percentiles_orders",
    "sync_merge_orders",
    "histogram_orders_prices",
    "rank_ties_topn_priority",
    "benford_first_digit_prices",
    "qualify_running_budget_cut",
    "grouping_id_sales_matrix",
    # NULL dates/prices + planted negatives exercise the composite
    # arg-extrema keys (the lpad sign offset in particular).
    # date_spine_order_gaps is NOT fuzzable here: its 1995 calendar
    # filter never overlaps this corpus's 1997 base, so the comparison
    # would be empty-vs-empty.
    "argminmax_orders_priority",
    # planted refund-negative prices pin the FLOOR-division tax lane
    "inline_order_charges",
    # round-9 additions: NULL prices skip the ordered-set aggregate /
    # NULL the bucket; negatives hit p25 ordering and the underflow bin
    "percentile_disc_prices",
    "width_bucket_price_histogram",
    # round-10 addition: previously had ZERO fuzz coverage, and its
    # oracle counted the NULL-priority group as a mode candidate where
    # Spark's mode(col, true) skips NULLs — the planted NULL-priority
    # class below keeps the two mode definitions locked
    "agg_listagg_mode_orders",
    # round-10 additions: the duplicate-price tie class (every 7th price
    # from 3 fixed values) is exactly what the CONT-vs-DISC contrast
    # exists to pin; RFM's ntile splits ride the planted NULL date /
    # NULL price classes under explicit NULLS FIRST/LAST ordering
    "percentile_cont_vs_disc_ties",
    "rfm_customer_segments",
    # batch 2: the DiD cutoff must survive all-NULL-date corpora (NULL
    # cutoff → empty cells → one all-NULL row on both engines), the
    # decile ntile rides the NULL-price class, and the autocorrelation
    # series must agree on NaN when the planted corpus degenerates
    "did_promo_effect",
    "decile_lift_monetary",
    "autocorr_daily_revenue",
]


def _orders_corpus(seed: int, n: int):
    import datetime as dt

    rng = random.Random(seed)
    base = dt.datetime(1997, 1, 1)
    rows = []
    for i in range(n):
        # cluster dates and plant exact 7-day boundaries for the RANGE
        # window; prices on exact cents including .005-style midpoints
        day = rng.choice([0, 1, 6, 7, 8, 13, 14, 30, 100, 364])
        rows.append(
            (
                i,
                rng.randint(1, 12),
                rng.choice(["F", "O", "P"]),
                # every 19th price is NULL: ranking keys, percentiles and
                # running sums must place/skip it identically per engine.
                # Every 29th is NEGATIVE (a refund) and every 37th is
                # exactly ZERO: sign-convention surfaces (Benford's
                # cents>0 cut, histogram bin edges, DIV-vs-// truncation
                # toward zero vs floor, running-sum budget cuts) must
                # treat them identically per engine.
                # Every 7th price (after the NULL/negative/zero classes
                # take precedence) is drawn from THREE fixed values, so
                # heavy exact ties sit on the quantile boundaries: disc
                # must pick the same tied member and cont must
                # interpolate between equal values identically per
                # engine (the round-10 percentile tie-semantics class).
                None
                if i % 19 == 5
                else (
                    round(-rng.randint(1, 2_000_000) / 100.0, 2)
                    if i % 29 == 11
                    else (
                        0.0
                        if i % 37 == 17
                        else (
                            [199.99, 5000.0, 123456.78][i // 7 % 3]
                            if i % 7 == 3
                            else round(rng.randint(1, 40_000_000) / 100.0, 2)
                        )
                    )
                ),
                # every 23rd date is NULL: calendar windows and running
                # totals must pin its sort position (NULLS FIRST), never
                # inherit the engine default
                None
                if i % 23 == 9
                else base + dt.timedelta(days=day + (i % 3) * 7),
                # every 13th priority is NULL: mode candidates must skip
                # it (Spark mode(col, true)) and ranking/extrema
                # partitions must place it identically per engine
                None
                if i % 13 == 4
                else rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                ),
            )
        )
    return rows


@pytest.mark.parametrize("seed", [3, 29])
@pytest.mark.parametrize("name", FUZZ_ORDER_QUERIES)
def test_order_query_matches_oracle_on_random_orders(spark, tmp_path, name, seed):
    import duckdb

    rows = _orders_corpus(seed * 104729 + zlib.crc32(name.encode()) % 997, 250)
    sf_dir = str(tmp_path)
    # explicit DDL, NOT a pandas frame: pandas stores a None price as
    # float64 NaN, which Spark ingests as NaN while a DuckDB register()
    # of the same frame yields SQL NULL — the planted NULL class would
    # reach the two engines as DIFFERENT values. Spark writes the
    # parquet; DuckDB reads that same parquet (one ingestion path).
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(2).write.parquet(f"{sf_dir}/orders.parquet")


    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS "
        f"SELECT * FROM '{sf_dir}/orders.parquet/*.parquet'"
    )
    _compare(spark, con, name, sf_dir, label=f"seed {seed}")


#: Star-schema queries fuzzable with consistent random
#: customer/orders/lineitem tables — the decimal-cast-heavy TPC-H
#: shapes where Spark and SQL engines' precision rules differ most.
FUZZ_STAR_QUERIES = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "q12_late_lines_by_status",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "join_left_outer_counts",
    # round-10 additions: Gini's rank-weighted DECIMAL sum over random
    # negative/positive revenues (tie blocks permute — the value must
    # not move), and the weighted median's exact-DECIMAL cumulative cut
    # over random tied prices
    "gini_revenue_concentration",
    "weighted_median_lineitem",
    # batch 2: integer-exact Hamilton apportionment over the random
    # 3-segment census, and the chi-squared crosstab over random
    # segment × priority cells (orphan custkeys exercise the join)
    "allocation_largest_remainder",
    "crosstab_chi2_segment_priority",
    # previously the ONLY oracle-backed query in no fuzz family: the
    # >9900 balance cut keeps most random censuses empty (an
    # empty-vs-empty compare), but seeds that do clear it pin the
    # LATERAL decorrelation + price-tie ordering on random data
    "lateral_topn_per_group",
]


def _star_corpus(seed: int):
    import datetime as dt

    rng = random.Random(seed)
    base = dt.datetime(1997, 1, 1)
    customers = [
        (c, f"Customer#{c}", rng.randint(0, 4),
         round(rng.randint(-99999, 999999) / 100.0, 2),
         rng.choice(["BUILDING", "MACHINERY", "HOUSEHOLD"]))
        for c in range(1, 13)
    ]
    orders, lineitems = [], []
    for o in range(60):
        cust = rng.randint(1, 16)  # some custkeys have no orders & v.v.
        odate = base + dt.timedelta(days=rng.randint(0, 400))
        total = 0.0
        n_lines = rng.randint(1, 5)
        for ln in range(1, n_lines + 1):
            qty = float(rng.randint(1, 50))
            price = round(rng.randint(100, 9_999_999) / 100.0, 2)
            disc = rng.choice([0.0, 0.04, 0.05, 0.06, 0.07, 0.1])
            tax = rng.choice([0.0, 0.02, 0.08])
            ship = odate + dt.timedelta(days=rng.choice([0, 5, 29, 30, 31, 90]))
            lineitems.append(
                (o, rng.randint(1, 40), rng.randint(1, 10), ln, qty, price,
                 disc, tax, rng.choice(["A", "N", "R"]),
                 rng.choice(["F", "O"]), ship)
            )
            total += price
        orders.append(
            (o, cust, rng.choice(["F", "O", "P"]), round(total, 2), odate,
             rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                         "4-NOT SPECIFIED", "5-LOW"]))
        )
    return customers, orders, lineitems


@pytest.mark.parametrize("seed", [7, 31])
@pytest.mark.parametrize("name", FUZZ_STAR_QUERIES)
def test_star_query_matches_oracle_on_random_schema(spark, tmp_path, name, seed):
    import duckdb
    import pandas as pd

    customers, orders, lineitems = _star_corpus(
        seed * 65537 + zlib.crc32(name.encode()) % 997
    )
    frames = {
        "customer": pd.DataFrame(
            customers,
            columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                     "c_mktsegment"],
        ),
        "orders": pd.DataFrame(
            orders,
            columns=["o_orderkey", "o_custkey", "o_orderstatus",
                     "o_totalprice", "o_orderdate", "o_orderpriority"],
        ),
        "lineitem": pd.DataFrame(
            lineitems,
            columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                     "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                     "l_returnflag", "l_linestatus", "l_shipdate"],
        ),
    }
    sf_dir = str(tmp_path)
    con = duckdb.connect()
    for t, pdf in frames.items():
        spark.createDataFrame(pdf).coalesce(2).write.parquet(
            f"{sf_dir}/{t}.parquet"
        )
        con.register(t, pdf)

    _compare(spark, con, name, sf_dir, label=f"seed {seed}")


#: Full-schema queries: every TPC-H-shape and relational-join query
#: fuzzed over a consistent random 8-table star schema.
FUZZ_TPCH_QUERIES = [
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    "q10_returned_customers",
    "q11_important_parts",
    "q15_top_supplier",
    "q16_supplier_count_by_part",
    "q20_heavy_part_suppliers",
    "q21_single_blame_supplier",
    "join_semi_customers",
    "join_anti_customers",
    "join_broadcast_supplier_geo",
    "join_full_outer_spend_freq",
    "exists_late_shipment_orders",
    "notexists_dormant_customers",
    "scalar_subquery_small_qty",
    "filter_or_of_and_revenue",
    "conditional_promo_revenue",
    "topk_expensive_orders",
    "math_fns_lineitem",
    "robust_stats_lineitem",
    "stats_regression_lineitem",
    "unpivot_lineitem_metrics",
    "profile_lineitem_columns",
    "pivot_status_by_priority",
    "window_distribution_ranks",
    "udaf_geomean_orders",
    "set_union_segments",
    "set_except_inactive",
    "set_intersect_buyers",
    "nullsafe_join_segments",
    "window_running_total",
    "agg_cube_segment_status",
    "spatial_box_join_counts",
    "recursive_cte_customer_tree",
    # round-10 additions: skyline dominance over the 8-value size /
    # random price lattice (heavy exact ties on both axes), basket lift
    # on the small random brand pool, and the NOT IN / NOT EXISTS
    # null-semantics pin over the random segment mix
    "skyline_parts_pareto",
    "basket_pair_lift",
    "notin_null_aware_segments",
]

_P_NAMES = ["green bolt", "red widget", "blue bolt case", "widget press",
            "small gadget", "promo widget kit"]
_P_TYPES = ["PROMO", "MEDIUM", "STANDARD", "ECONOMY"]
_P_BRANDS = ["Brand#12", "Brand#23", "Brand#34", "Brand#45"]
_N_NAMES = ["NORWAY", "GERMANY", "FRANCE", "CANADA", "JAPAN", "BRAZIL"]
_R_NAMES = ["EUROPE", "AMERICA", "ASIA"]


def _schema_corpus(seed: int):
    import datetime as dt

    rng = random.Random(seed)
    base = dt.datetime(1996, 6, 1)
    region = [(r, _R_NAMES[r]) for r in range(3)]
    nation = [(n, _N_NAMES[n], n % 3) for n in range(6)]
    supplier = [
        (s, f"Supplier#{s}", rng.randint(0, 5),
         round(rng.randint(-50000, 500000) / 100.0, 2))
        for s in range(1, 9)
    ]
    part = [
        (p, rng.choice(_P_NAMES), rng.choice(_P_BRANDS),
         rng.choice(_P_TYPES), rng.choice([1, 5, 10, 15, 20, 25, 30, 49]),
         round(rng.randint(100, 200000) / 100.0, 2))
        for p in range(1, 21)
    ]
    customer = [
        (c, f"Customer#{c}", rng.randint(0, 5),
         round(rng.randint(-99999, 999999) / 100.0, 2),
         rng.choice(["BUILDING", "MACHINERY", "HOUSEHOLD"]))
        for c in range(1, 13)
    ]
    orders, lineitem = [], []
    for o in range(80):
        odate = base + dt.timedelta(days=rng.randint(0, 700))
        total = 0.0
        for ln in range(1, rng.randint(1, 5) + 1):
            price = round(rng.randint(100, 9_999_999) / 100.0, 2)
            lineitem.append(
                (o, rng.randint(1, 20), rng.randint(1, 8), ln,
                 float(rng.randint(1, 50)), price,
                 rng.choice([0.0, 0.04, 0.05, 0.06, 0.07, 0.1]),
                 rng.choice([0.0, 0.02, 0.08]),
                 rng.choice(["A", "N", "R"]), rng.choice(["F", "O"]),
                 odate + dt.timedelta(days=rng.choice([0, 5, 29, 30, 31, 61, 90])))
            )
            total += price
        orders.append(
            (o, rng.randint(1, 16), rng.choice(["F", "O", "P"]),
             round(total, 2), odate,
             rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                         "4-NOT SPECIFIED", "5-LOW"]))
        )
    return {
        "region": (region, ["r_regionkey", "r_name"]),
        "nation": (nation, ["n_nationkey", "n_name", "n_regionkey"]),
        "supplier": (supplier, ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]),
        "part": (part, ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]),
        "customer": (customer, ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]),
        "orders": (orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]),
        "lineitem": (lineitem, ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"]),
    }


@pytest.mark.parametrize("seed", [13, 41])
@pytest.mark.parametrize("name", FUZZ_TPCH_QUERIES)
def test_tpch_query_matches_oracle_on_random_schema(spark, tmp_path, name, seed):
    import duckdb
    import pandas as pd

    tables = _schema_corpus(seed * 524287 + zlib.crc32(name.encode()) % 997)
    sf_dir = str(tmp_path)
    con = duckdb.connect()
    for t, (rows, cols) in tables.items():
        pdf = pd.DataFrame(rows, columns=cols)
        spark.createDataFrame(pdf).coalesce(2).write.parquet(
            f"{sf_dir}/{t}.parquet"
        )
        con.register(t, pdf)

    _compare(spark, con, name, sf_dir, label=f"seed {seed}")


#: Embedding-family queries over a random vectors table — float dot
#: products rounded at the top-k boundary are the hazard probed here.
FUZZ_EMBEDDING_QUERIES = [
    "cosine_topk_embeddings",
    "neardup_embedding_cosine",
    "semantic_cluster_assign",
    "array_fns_embeddings",
    "embedding_quantize_stats",
    "array_topk_quantized_embeddings",
]

#: Embedding-family queries that declare zero-LENGTH vector support
#: (the corpus plants empty arrays only for these).
_PLANT_EMPTY = {"array_fns_embeddings", "array_topk_quantized_embeddings"}


def _embeddings_corpus(
    seed: int, n: int, dim: int = 64, plant_empty: bool = False
):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        if plant_empty and i % 19 == 4:
            # zero-LENGTH vectors (not zero-valued): ANSI element_at
            # throws on these; only the scalar array-fns query declares
            # support, the GEMM/ANN operators contract on fixed dim
            vec = []
        elif i % 23 == 7:
            # NULL embeddings: every scorer must yield no-match, and
            # every encoder must emit NULL (the PQ [0]*m phantom-codes
            # class), identically on both engines
            vec = None
        elif i % 17 == 0:
            vec = [0.0] * dim  # zero vectors: the safe-norm path
        elif i % 11 == 0 and any(r[1] is not None for r in rows):
            # exact dup of an earlier NON-NULL vector
            pool = [r[1] for r in rows if r[1] is not None]
            vec = list(pool[rng.randrange(len(pool))])
        else:
            vec = [round(rng.uniform(-1, 1), 3) for _ in range(dim)]
        rows.append((i, vec, rng.randint(0, 3)))
    return rows


@pytest.mark.parametrize("seed", [19, 47])
@pytest.mark.parametrize("name", FUZZ_EMBEDDING_QUERIES)
def test_embedding_query_matches_oracle_on_random_vectors(
    spark, tmp_path, name, seed
):
    import duckdb
    import pandas as pd

    rows = _embeddings_corpus(
        seed * 9973 + zlib.crc32(name.encode()) % 997,
        80,
        plant_empty=(name in _PLANT_EMPTY),
    )
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        pdf, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(2).write.parquet(f"{sf_dir}/embeddings.parquet")

    con = duckdb.connect()
    # read the SAME float32 parquet Spark reads — registering the
    # float64 pandas frame would give DuckDB more precision than the
    # array<float> column both engines see in production
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM '{sf_dir}/embeddings.parquet/*.parquet'"
    )
    _compare(spark, con, name, sf_dir, label=f"seed {seed}")


@pytest.mark.parametrize("seed", [13, 37])
def test_union_ingest_matches_oracle_on_hostile_two_source(spark, tmp_path, seed):
    """union_byname_backfill_ingest spans TWO tables, so it fits no
    single-corpus family: build a documents corpus with planted NULL
    n_chars (forcing the length() backfill on the documents side too)
    and an events corpus with planted NULL props (a NULL text whose
    backfill is itself NULL and must skip the SUM identically)."""
    import duckdb

    docs = [
        # every 7th n_chars NULL: the backfill must kick in for docs too
        (d, t, lg, s, None if i % 7 == 2 else n)
        for i, (d, t, lg, s, n) in enumerate(_corpus(seed * 31 + 5, 60))
    ]
    events = []
    for i, row in enumerate(_events_corpus(seed * 53 + 11, 150)):
        row = list(row)
        if i % 13 == 6:
            row[5] = None  # NULL props → NULL text → NULL backfill
        events.append(tuple(row))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        docs,
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).coalesce(2).write.parquet(f"{sf_dir}/documents.parquet")
    spark.createDataFrame(
        events,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).coalesce(2).write.parquet(f"{sf_dir}/events.parquet")

    sdf = QUERIES["union_byname_backfill_ingest"](spark, sf_dir)
    got = [tuple(_norm(r[c]) for c in sorted(sdf.columns)) for r in sdf.collect()]

    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'"
        )
    cur = con.execute(ORACLES["union_byname_backfill_ingest"])
    cols = [d[0] for d in cur.description]
    want = [
        tuple(_norm(dict(zip(cols, row))[c]) for c in sorted(cols))
        for row in cur.fetchall()
    ]
    # ordered compare — the driver hash is order-sensitive
    assert got == want, f"diverged on seed {seed}: {got} vs {want}"


#: Rows-only queries (no SQL oracle) exercised on random tables: the
#: assertion is completion + non-negative row counts — the class of
#: failure this catches is the data-dependent crash (ANSI division,
#: codegen limits, degenerate inputs), which the zero-vector sweep
#: already caught once in the oracle-backed set.
ROWS_ONLY_FAMILY = {
    "agg_approx_distinct": "star",
    "agg_approx_percentiles": "orders",
    "ann_ivf_topk": "embeddings",
    "ann_lsh_bucketed": "embeddings",
    "ann_pq_topk": "embeddings",
    "kll_quantile_rollup_prices": "star",
    "neardup_crossbatch_screen": "documents",
    "neardup_minhash_lsh": "documents",
    "raster_contours_tiles": "embeddings",
    "simhash_documents": "documents",
    "sketch_rollup_users": "events",
}


@pytest.mark.parametrize("name", sorted(ROWS_ONLY_FAMILY))
def test_rows_only_query_survives_random_data(spark, tmp_path, name, monkeypatch):
    import pandas as pd

    sf_dir = str(tmp_path)
    fam = ROWS_ONLY_FAMILY[name]
    seed = zlib.crc32(name.encode())
    if fam == "documents":
        pdf = pd.DataFrame(
            _corpus(seed, 50),
            columns=["doc_id", "text", "lang", "source", "n_chars"],
        )
        spark.createDataFrame(pdf).coalesce(2).write.parquet(
            f"{sf_dir}/documents.parquet"
        )
    elif fam == "events":
        # explicit DDL, not pandas inference: the planted NULL user_ids
        # must stay BIGINT (pandas promotes to float64, which
        # hll_sketch_agg rejects at analysis)
        spark.createDataFrame(
            _events_corpus(seed, 200),
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        ).coalesce(2).write.parquet(f"{sf_dir}/events.parquet")
    elif fam == "orders":
        pdf = pd.DataFrame(
            _orders_corpus(seed, 150),
            columns=["o_orderkey", "o_custkey", "o_orderstatus",
                     "o_totalprice", "o_orderdate", "o_orderpriority"],
        )
        spark.createDataFrame(pdf).coalesce(2).write.parquet(
            f"{sf_dir}/orders.parquet"
        )
    elif fam == "embeddings":
        pdf = pd.DataFrame(
            _embeddings_corpus(seed, 64),
            columns=["vec_id", "embedding", "label"],
        )
        spark.createDataFrame(
            pdf, "vec_id bigint, embedding array<float>, label int"
        ).coalesce(2).write.parquet(f"{sf_dir}/embeddings.parquet")
        # ANN queries build a persisted store on first touch — keep the
        # fuzz store out of the repo warehouse
        monkeypatch.setenv("SPARK_GRAFT_ANN_ROOT", f"{sf_dir}/_ann")
    else:  # star schema
        for t, (rows, cols) in _schema_corpus(seed).items():
            spark.createDataFrame(
                pd.DataFrame(rows, columns=cols)
            ).coalesce(2).write.parquet(f"{sf_dir}/{t}.parquet")

    n = QUERIES[name](spark, sf_dir).count()
    assert n >= 0


#: Queries re-fuzzed under a HOSTILE physical schema: the sf testdata is
#: all BIGINT keys / DOUBLE money / non-null TIMESTAMP / ASCII strings,
#: so value-only fuzz never exercises the type boundaries a real corpus
#: hits — DECIMAL(12,2) money (the dmoney contract applied at the
#: source), 32-bit keys, NULL order/ship dates, and unicode group keys.
FUZZ_TYPE_VARIANT_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q10_returned_customers",
    "q12_late_lines_by_status",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "join_left_outer_counts",
    "topk_expensive_orders",
    "window_running_total",
    "agg_percentiles_orders",
    "window_range_7day_spend",
    "window_topn_orders_per_customer",
    "date_arith_orders",
    # NULL-l_suppkey regime (planted below): NOT-IN three-valued logic
    # and the MAX-over-view NULL-group class
    "q15_top_supplier",
    "q16_supplier_count_by_part",
]

_TYPE_VARIANT_DDL = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "supplier": "s_suppkey int, s_name string, s_nationkey int, "
                "s_acctbal decimal(12,2)",
    "part": "p_partkey int, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice decimal(12,2)",
    "customer": "c_custkey int, c_name string, c_nationkey int, "
                "c_acctbal decimal(12,2), c_mktsegment string",
    "orders": "o_orderkey int, o_custkey int, o_orderstatus string, "
              "o_totalprice decimal(12,2), o_orderdate timestamp, "
              "o_orderpriority string",
    "lineitem": "l_orderkey int, l_partkey int, l_suppkey int, "
                "l_linenumber int, l_quantity decimal(12,2), "
                "l_extendedprice decimal(12,2), l_discount decimal(4,2), "
                "l_tax decimal(4,2), l_returnflag string, "
                "l_linestatus string, l_shipdate timestamp",
}


def _type_variant_tables(seed: int):
    """_schema_corpus values re-typed: money → Decimal, every 12th order
    date and 13th lineitem ship date → NULL, unicode customer names and
    a unicode market segment (keeping the 'BUILDING' literal queries
    filter on)."""
    from decimal import Decimal

    def dec(x):
        return Decimal(f"{x:.2f}")

    tables = _schema_corpus(seed)
    out = {}
    region, nation = tables["region"][0], tables["nation"][0]
    out["region"] = region
    out["nation"] = nation
    out["supplier"] = [
        (s, n, nk, dec(bal)) for s, n, nk, bal in tables["supplier"][0]
    ]
    out["part"] = [
        (p, n, b, t, sz, dec(rp)) for p, n, b, t, sz, rp in tables["part"][0]
    ]
    out["customer"] = [
        (
            c,
            f"Kundè#{c}·æøå",
            nk,
            dec(bal),
            "HÙSHÖLD•家電" if seg == "HOUSEHOLD" else seg,
        )
        for c, _n, nk, bal, seg in tables["customer"][0]
    ]
    out["orders"] = [
        (o, c, st, dec(tot), None if o % 12 == 0 else od, pr)
        for o, c, st, tot, od, pr in tables["orders"][0]
    ]
    out["lineitem"] = [
        (
            ok, pk,
            # every 17th LINE loses its supplier: NOT IN goes UNKNOWN,
            # anti-joins keep the row, MAX-over-view grows a NULL group —
            # the exact class both engines must resolve identically.
            # Keyed on (orderkey, linenumber), not orderkey alone, which
            # clustered ALL of an order's lines into the planted class
            # for 5 orders and left 75 untouched (round-9 review).
            None if (ok * 7 + ln) % 17 == 3 else sk,
            ln, dec(q), dec(ep),
            Decimal(f"{dc:.2f}"), Decimal(f"{tx:.2f}"),
            rf, ls, None if ok % 13 == 0 else sd,
        )
        for ok, pk, sk, ln, q, ep, dc, tx, rf, ls, sd in tables["lineitem"][0]
    ]
    return out


@pytest.mark.parametrize("seed", [19])
@pytest.mark.parametrize("name", FUZZ_TYPE_VARIANT_QUERIES)
def test_query_matches_oracle_under_type_variants(spark, tmp_path, name, seed):
    import duckdb

    tables = _type_variant_tables(seed * 2971 + zlib.crc32(name.encode()) % 997)
    sf_dir = str(tmp_path)
    con = duckdb.connect()
    for t, rows in tables.items():
        spark.createDataFrame(rows, _TYPE_VARIANT_DDL[t]).coalesce(2).write.parquet(
            f"{sf_dir}/{t}.parquet"
        )
        # DuckDB reads THE SAME parquet Spark wrote — one ingestion path,
        # so the variant types (DECIMAL/int32/NULL timestamps) reach both
        # engines with full fidelity
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'"
        )

    _compare(spark, con, name, sf_dir, label=f"seed {seed}")


# --- streaming ≡ batch (randomized) --------------------------------------
#
# The streaming operators were parity-tested on fixed fixtures only;
# this section drives them with RANDOM event streams — random keys,
# random gaps (short bursts and session-breaking idles), mild
# out-of-order arrival bounded well under the watermark, duplicates
# planted across micro-batch boundaries — and asserts the availableNow
# streaming result equals the batch computation on the same rows.
# Micro-batch boundaries come from maxFilesPerTrigger=1 over
# sequentially written files, so cross-batch state is always exercised.


def _random_user_timelines(rng, n_users, events_per_user):
    """Per-user event timelines with mixed gaps: mostly sub-5-minute
    bursts, occasionally >40-minute idles (session breaks at gap=30m).
    Non-round gap values keep session boundaries away from exact-équality
    edge cases. Returns rows (user_id, ts_epoch_s, value)."""
    rows = []
    base = 1_709_280_000  # 2024-03-01T08:00:00Z
    for u in range(n_users):
        t = base + rng.randrange(0, 600)
        for _ in range(events_per_user):
            t += rng.choice(
                [rng.randrange(7, 290), rng.randrange(7, 290),
                 rng.randrange(2_431, 9_743)]
            )
            rows.append((u, t, float(rng.randrange(0, 400)) * 0.25))
    return rows


def _write_stream_files(spark, rows, out_dir, n_files, jitter_s, rng):
    """Write rows as n_files sequential parquet files ordered by
    (ts + bounded jitter): later files hold later rows, but each
    boundary is fuzzy by ±jitter_s — real out-of-order arrival, always
    far inside the watermark so streaming may not drop anything."""
    ordered = sorted(rows, key=lambda r: r[1] + rng.randrange(-jitter_s, jitter_s + 1))
    chunk = max(1, (len(ordered) + n_files - 1) // n_files)
    for i in range(0, len(ordered), chunk):
        spark.createDataFrame(
            [(u, t, v) for u, t, v in ordered[i:i + chunk]],
            "user_id long, epoch long, value double",
        ).select(
            "user_id",
            F.timestamp_seconds(F.col("epoch")).alias("ts"),
            "value",
        ).coalesce(1).write.mode("append").parquet(out_dir)


def _drain(spark, stream_df, name, ckpt):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    done = q.awaitTermination(180)
    if not done:
        # a slow drain must be a CLEAR timeout, not a confusing value
        # diff against a half-populated memory sink (and the running
        # query must not leak into later tests)
        q.stop()
        raise AssertionError(f"stream drain {name!r} timed out after 180s")
    return spark.sql(f"SELECT * FROM {name}")


_SENTINEL_USER = 9_999


@pytest.mark.parametrize("seed", [101, 211])
def test_fuzz_sessionize_stream_matches_batch(spark, tmp_path, seed):
    """Streaming session_window ≡ batch session_window on a random
    stream. A sentinel event far past the timeline pushes the final
    watermark beyond every real session's end, so append mode emits
    them all — making the comparison exact, not one-sided."""
    from dask_felleskomponenter_spark.streaming.ops import sessionize_events

    rng = random.Random(seed)
    rows = _random_user_timelines(rng, n_users=6, events_per_user=40)
    max_t = max(t for _, t, _ in rows)
    d = str(tmp_path / "in")
    _write_stream_files(spark, rows, d, n_files=4, jitter_s=540, rng=rng)
    # the closer arrives last, alone, 12h after everything
    spark.createDataFrame(
        [(_SENTINEL_USER, max_t + 43_200, 0.0)],
        "user_id long, epoch long, value double",
    ).select(
        "user_id", F.timestamp_seconds(F.col("epoch")).alias("ts"), "value"
    ).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got_df = _drain(
        spark, sessionize_events(stream, gap="30 minutes"),
        f"fz_sessions_{seed}", str(tmp_path / "ckpt"),
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in got_df.collect()
        if r["user_id"] != _SENTINEL_USER
    }
    want = {
        (r["user_id"], r["sw"]["start"], r["sw"]["end"], r["n"])
        for r in spark.read.parquet(d)
        .filter(F.col("user_id") != _SENTINEL_USER)
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want, f"seed {seed}: {len(got)} vs {len(want)} sessions"
    assert len(want) > 6  # the gap mixture actually split sessions


@pytest.mark.parametrize("seed", [103, 223])
def test_fuzz_stream_dedup_matches_batch_distinct(spark, tmp_path, seed):
    """Streaming dropDuplicatesWithinWatermark ≡ batch key-distinct when
    every duplicate falls inside the horizon: duplicates are planted
    ACROSS micro-batch files, the watermark spans the whole timeline."""
    from dask_felleskomponenter_spark.streaming.ops import stream_dedup

    rng = random.Random(seed)
    n_keys = rng.randrange(20, 60)
    # Draw the key ONCE per timeline row and emit the identical tuple
    # N times: a per-copy randrange gave each "duplicate" its own key
    # (same-key odds ~1/n_keys), so the planted cross-batch duplicate
    # class the docstring claims was essentially absent (round-9
    # review).
    rows = [
        row
        for _, t, v in _random_user_timelines(rng, 5, 50)
        for row in [(rng.randrange(n_keys), t, v)]
        for _ in range(rng.choice([1, 1, 2]))
    ]
    d = str(tmp_path / "in")
    _write_stream_files(spark, rows, d, n_files=5, jitter_s=540, rng=rng)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got_df = _drain(
        spark,
        stream_dedup(stream, ["user_id"], ts_col="ts", watermark="96 hours"),
        f"fz_dedup_{seed}", str(tmp_path / "ckpt"),
    )
    got = sorted(r["user_id"] for r in got_df.collect())
    want = sorted(
        r["user_id"]
        for r in spark.read.parquet(d).select("user_id").distinct().collect()
    )
    assert got == want, f"seed {seed}: streaming kept {len(got)} of {len(want)} keys"


@pytest.mark.parametrize("seed", [107, 227])
def test_fuzz_stream_interval_join_matches_batch(spark, tmp_path, seed):
    """Stream-stream range join ≡ batch interval_join on random
    click/error streams (inner join emits on match, so no sentinel is
    needed for completeness)."""
    from dask_felleskomponenter_spark.operators.joins import interval_join
    from dask_felleskomponenter_spark.streaming.ops import stream_interval_join

    rng = random.Random(seed)
    left_rows = _random_user_timelines(rng, 5, 30)
    right_rows = _random_user_timelines(rng, 5, 30)
    ld, rd = str(tmp_path / "l"), str(tmp_path / "r")
    _write_stream_files(spark, left_rows, ld, n_files=3, jitter_s=540, rng=rng)
    _write_stream_files(spark, right_rows, rd, n_files=3, jitter_s=540, rng=rng)

    def stream(path):
        return (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    joined = stream_interval_join(
        stream(ld), stream(rd), on=["user_id"],
        lower_seconds=-300, upper_seconds=0,
    )
    got_df = _drain(spark, joined, f"fz_rjoin_{seed}", str(tmp_path / "ckpt"))
    got = {
        (r["user_id"], r["ts"], r["rng_ts"]) for r in got_df.collect()
    }
    want = {
        (r["user_id"], r["ts"], r["rng_err_ts"])
        for r in interval_join(
            spark.read.parquet(ld),
            spark.read.parquet(rd)
            .withColumnRenamed("ts", "err_ts")
            .withColumnRenamed("value", "err_value"),
            on=["user_id"], left_ts="ts", right_ts="err_ts",
            lower_seconds=-300, upper_seconds=0,
            value_cols=["err_ts"],
        ).collect()
    }
    assert got == want, f"seed {seed}: {len(got)} vs {len(want)} pairs"
    assert len(want) > 0


# --- emit-order parity ----------------------------------------------------
#
# The driver's value hash is ORDER-SENSITIVE: a query and its oracle must
# emit rows in the same order, not just the same set. Every comparison
# above sorts before comparing (right for value semantics, blind to
# ordering divergence) — this one does not. The hostile corpus plants the
# two classes that historically diverged: NULL sort keys (Spark ASC is
# NULLS FIRST, DuckDB defaults NULLS LAST — oracles must pin NULLS FIRST)
# and \x0b whitespace (tokenization parity, affecting derived sort keys).

def test_emit_order_matches_oracle_on_hostile_corpus(spark, tmp_path):
    import duckdb
    import pandas as pd

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        _events_corpus(4242, 300),
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).coalesce(2).write.parquet(f"{sf_dir}/events.parquet")
    rows = _corpus(4242, 60)
    rows += [
        (100 + i, f"foo\x0bbar baz{i} qux\x0b", "en", "srcv", 12)
        for i in range(6)
    ]
    # leading/trailing whitespace class: a raw split yields a leading
    # empty token that shifts 1-based positions — any oracle indexing
    # pre-filter (the set_algebra_token_halves bug class) swaps its
    # halves here; TRIM-based tokenizations are unaffected
    rows += [
        (110 + i, f"  led{i} tok alpha tok beta{i} \x0b", "en", "srcw", 12)
        for i in range(4)
    ]
    spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        )
    ).coalesce(2).write.parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'"
        )

    diverged = []
    for name in FUZZ_EVENT_QUERIES + FUZZ_QUERIES:
        if name not in ORACLES or name in (
            "join_salted_user_events",
            "bool_flags_by_segment",
            # _ASCII_ONLY: DuckDB levenshtein counts BYTES, Spark counts
            # CHARS — on this unicode vocab ('blåbær') the distance cut
            # agrees only by accident of the fixed seed; the
            # random-corpus family covers it exactly on the ASCII
            # corpus, and test_fuzzy_blocked_match_unicode_distance_
            # relation covers the unicode regime via the one-sided
            # byte≥char subset relation
            "fuzzy_blocked_match",
        ):
            continue  # need the customer dim / the ASCII corpus
        sdf = QUERIES[name](spark, sf_dir)
        got = [
            tuple(_norm(r[c]) for c in sorted(sdf.columns))
            for r in sdf.collect()
        ]
        cur = con.execute(ORACLES[name])
        cols = [d[0] for d in cur.description]
        want = [
            tuple(_norm(dict(zip(cols, row))[c]) for c in sorted(cols))
            for row in cur.fetchall()
        ]
        if got != want:
            kind = (
                "ORDER"
                if sorted(got, key=_SKEY) == sorted(want, key=_SKEY)
                else "SET"
            )
            diverged.append(f"{kind}:{name}")
    assert diverged == [], diverged


@pytest.mark.parametrize("seed", [7, 31])
def test_malformed_props_match_oracle(spark, tmp_path, seed):
    """Planted malformed-JSON-number class: every 17th props carries a
    NON-NUMERIC k ('{"k": "zz"}'). try_cast_typed_backfill must count it
    as present-but-malformed (n_cast_bad > 0 — the column this class
    exists to exercise), and the json/variant profiles must NULL it
    identically per engine (their oracles moved to TRY_CAST with parsed
    denominators for exactly this corpus).

    Quoted NUMERICS ('{"k": "7"}') are deliberately NOT planted:
    from_json rejects a quoted number where TRY_CAST coerces it — a
    real, documented divergence — and from_json(map<...>) NULLs the
    WHOLE map on any bad value where per-key TRY_CAST only NULLs that
    key, so map_fns_events is excluded from this corpus too."""
    import duckdb

    rows = [
        list(r)
        for r in _events_corpus(seed * 6007 + 13, 300)
    ]
    n_malformed = 0
    for i, r in enumerate(rows):
        if i % 17 == 5:
            r[5] = '{"k": "zz"}'
            n_malformed += 1
    rows = [tuple(r) for r in rows]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).coalesce(2).write.parquet(f"{sf_dir}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    for name in (
        "try_cast_typed_backfill",
        "json_fns_events",
        "variant_fns_events",
    ):
        _compare(spark, con, name, sf_dir, label="malformed corpus")

    bad = (
        QUERIES["try_cast_typed_backfill"](spark, sf_dir)
        .groupBy()
        .sum("n_cast_bad")
        .collect()[0][0]
    )
    assert bad == n_malformed, (bad, n_malformed)


@pytest.mark.parametrize("seed", [13, 41])
def test_array_topk_hostile_elements_match_oracle(spark, tmp_path, seed):
    """Round-8 review: element-level dirt diverged or crashed one
    engine — a NULL element NULL-propagates Spark's aggregate fold
    where list_sum skips it; NaN/±inf abort DuckDB's CAST where
    Spark's non-ANSI cast quietly maps them. Both sides now filter to
    finite elements; this corpus plants all three classes."""
    import duckdb

    rng = random.Random(seed)
    rows = []
    for i in range(60):
        vec = [round(rng.uniform(-1, 1), 3) for _ in range(12)]
        if i % 5 == 1:
            vec[rng.randrange(12)] = None
        if i % 7 == 2:
            vec[rng.randrange(12)] = float("nan")
        if i % 11 == 3:
            vec[rng.randrange(12)] = float("inf") * rng.choice([1, -1])
        if i % 19 == 4:
            vec = None
        rows.append((i, vec, 0))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(2).write.parquet(f"{sf_dir}/embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM '{sf_dir}/embeddings.parquet/*.parquet'"
    )
    _compare(spark, con, "array_topk_quantized_embeddings", sf_dir)


@pytest.mark.parametrize("seed", [3, 59])
def test_numeric_format_props_match_oracle(spark, tmp_path, seed):
    """Round-8 review: DuckDB TRY_CAST COERCES '1.5'/'1e2' where Spark
    try_cast rejects them, and json_extract ABORTS on structurally
    invalid JSON where get_json_object returns NULL. The oracles now
    gate on an integer-literal regex + json_valid; this corpus plants
    every class — decimals, scientific, quoted integers, quoted junk,
    leading-zero (invalid JSON), bare non-JSON, empty string, and
    bigint overflow. variant_fns is excluded: parse_json ABORTS on
    invalid JSON by design (its never-abort twin is try_parse_json);
    map_fns is excluded for the whole-map-null asymmetry documented at
    its oracle."""
    import duckdb

    hostile = [
        '{"k": 1.5}',      # decimal: duck coerces to 2, Spark rejects
        '{"k": 1e2}',      # scientific
        '{"k": 1.0}',      # integral-valued decimal
        '{"k": "12"}',     # quoted integer: from_json rejects
        '{"k": "zz"}',     # quoted junk
        '{"k": 01}',       # leading zero = INVALID JSON
        'not json',
        '',
        '{"k": 9223372036854775808}',  # bigint overflow: NULL both
        '{"x": 4}',        # missing key
        '{"k": 7}',        # clean
    ]
    rng = random.Random(seed)
    rows = [
        list(r) for r in _events_corpus(seed * 523 + 7, 220)
    ]
    for i, r in enumerate(rows):
        if i % 3 == 1:
            r[5] = rng.choice(hostile)
    rows = [tuple(r) for r in rows]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).coalesce(2).write.parquet(f"{sf_dir}/events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    _compare(spark, con, "try_cast_typed_backfill", sf_dir)
    _compare(spark, con, "json_fns_events", sf_dir)


@pytest.mark.parametrize("seed", [23])
def test_map_zip_null_event_id_matches_oracle(spark, tmp_path, seed):
    """Round-8 review: a NULL event_id entered NEITHER parity batch on
    the Spark side (both % 2 predicates NULL) while the oracle's
    unfiltered COUNT(*) still counted it in total_n. Both sides now
    exclude id-less events explicitly; this corpus plants them."""
    import duckdb

    rows = [list(r) for r in _events_corpus(seed * 911 + 1, 180)]
    for i, r in enumerate(rows):
        if i % 9 == 2:
            r[0] = None  # NULL event_id, event_type often non-NULL
    rows = [tuple(r) for r in rows]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).coalesce(2).write.parquet(f"{sf_dir}/events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    _compare(spark, con, "map_zip_with_merge_profiles", sf_dir)


@pytest.mark.parametrize("seed", [11, 47])
def test_nonobject_json_props_match_oracle(spark, tmp_path, seed):
    """Round-9 finding (ADVICE): valid-but-non-object JSON ('[1,2]',
    '7', '"s"', 'true') passed the oracle's json_valid gate, so DuckDB
    json_keys yielded [] (n_props 0) while Spark's
    from_json(map<...>) yields a NULL map (sentinel -1). The oracle now
    also gates on json_type = 'OBJECT'; this corpus plants all four
    non-object classes plus a null literal."""
    import duckdb

    rows = [list(r) for r in _events_corpus(seed * 4093 + 29, 300)]
    planted = ["[1, 2]", "7", '"scalar"', "true", "null"]
    for i, r in enumerate(rows):
        if i % 13 == 6:
            r[5] = planted[(i // 13) % len(planted)]
    rows = [tuple(r) for r in rows]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).coalesce(2).write.parquet(f"{sf_dir}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    for name in ("map_fns_events", "json_fns_events", "variant_fns_events"):
        _compare(spark, con, name, sf_dir)


@pytest.mark.parametrize("seed", [23, 67])
def test_delimiter_event_types_match_oracle(spark, tmp_path, seed):
    """Round-9 review finding: the k=v wire format is lossy for values
    containing the pair/kv delimiters — an unsanitized 'a;b' event
    type truncated to 'a' at str_to_map parse time while the oracle's
    direct derivation kept it whole. Both sides now translate ';' '='
    to '_'; this corpus plants delimiter-bearing types (plus the
    map-family queries that group by the raw type, which must be
    delimiter-transparent)."""
    import duckdb

    rows = [list(r) for r in _events_corpus(seed * 5227 + 7, 300)]
    hostile_types = ["promo;flash", "k=v", "a;b=c", ";lead", "trail="]
    for i, r in enumerate(rows):
        if i % 11 == 4 and r[3] is not None:
            r[3] = hostile_types[(i // 11) % len(hostile_types)]
    rows = [tuple(r) for r in rows]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).coalesce(2).write.parquet(f"{sf_dir}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS "
        f"SELECT * FROM '{sf_dir}/events.parquet/*.parquet'"
    )
    for name in ("str_to_map_event_kv", "map_filter_concat_profile"):
        _compare(spark, con, name, sf_dir)
