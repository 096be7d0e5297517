"""Text-analysis column functions (LLM-pipeline pack).

Everything here is a pure ``Column`` expression over built-ins — string
functions, regexes, higher-order array functions — so text scoring over
100 TB of documents runs fully inside whole-stage codegen. No UDFs.

The functions return columns (not DataFrames) so they compose into any
projection; ``documents_quality_profile``-style queries in
``plans/queries.py`` show the intended usage.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Whitespace for tokenization: Java ``\s`` (ASCII incl. \x0b) plus
#: ``\p{Z}`` (Unicode separators — NBSP, ideographic/thin spaces).
#: Without ``\p{Z}``, NBSP-typeset French or U+3000-separated CJK text
#: tokenized multi-word runs as one token and counted every separator
#: as punctuation. RE2 lacks ``\x0b`` in ``\s``, so oracles spell
#: this class ``[\s\x0b\p{Z}]``; Python tokenizers mirror it with an
#: explicit character class (no ``\p{}`` support).
WS_PATTERN = r"[\s\p{Z}]+"

#: The SAME whitespace class as an explicit character set, for
#: ``trim(BOTH ... FROM col)``: Java ``\s`` members plus every
#: ``\p{Z}`` code point (Zs/Zl/Zp). Edge-stripping with a char-set
#: trim is a linear codegen'd scan; the anchored-regex form
#: (``^cls+|cls+$``) measured ~2x on token-heavy queries and an
#: ``F.filter`` HOF (interpreted per element) measured 1.3-1.5x.
WS_EDGE_CHARS = (
    "\t\n\x0b\f\r \u00a0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)

#: Word-ish tokens for a BPE-style token-count estimate: runs of letters,
#: runs of digits, or any single non-space symbol — in ANY script
#: (``[A-Za-z]`` counted every Cyrillic/Greek/CJK letter as its own
#: symbol token, inflating non-Latin counts to ~character count and
#: skewing token-budget selection ~5x against those documents). A
#: deliberately simple, deterministic stand-in for a real tokenizer's
#: token count.
BPE_ISH_PATTERN = r"\p{L}+|\p{N}+|[^\p{L}\p{N}\s\p{Z}]"

#: Punctuation = not letter, digit, underscore, or whitespace, in ANY
#: script: Java's and RE2's ``\w`` is ASCII-only, which made every CJK/
#: Cyrillic/Arabic letter count as punctuation and collapsed the quality
#: score's punctuation component to 0 for clean non-Latin text (the same
#: trap CANON_STRIP_PATTERN documents below). ``\p{L}\p{N}`` is
#: supported identically by both engines, so the DuckDB oracle mirrors
#: this pattern verbatim.
PUNCT_PATTERN = r"[^\p{L}\p{N}_\s\p{Z}]"

#: Tiny per-language stopword marker sets for the n-gram/stopword
#: language-ID heuristic. Real pipelines plug in fastText/CLD3 via a
#: Pandas UDF; the heuristic keeps the operator shape and is deterministic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "no", "por"],
    "fr": ["le", "la", "de", "et", "un", "est", "ne", "pas", "que", "pour"],
}


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def char_count(col: str | Column) -> Column:
    return F.length(_c(col))


def tokens(col: str | Column) -> Column:
    """Whitespace tokens as array<string>.

    NULL and empty/blank text both yield an EMPTY ARRAY, never NULL:
    ``size(NULL)`` is -1 with ANSI off and NULL with ANSI on (Spark 4's
    default), so a NULL-propagating tokenizer makes every downstream
    count/ratio/score depend on session config — a NULL document once
    scored 0.7 "quality" under ANSI defaults (above the repo's own keep
    threshold) and 0.3 without. With the guard here, every consumer
    sees a deterministic 0 in both modes.

    Edge whitespace is stripped with a CHAR-SET trim over the full
    whitespace class (``WS_EDGE_CHARS``), not bare ``trim``: bare trim
    strips only ASCII space 0x20, so tab/newline/VT-padded text
    ('\\thello\\n') split into phantom ''-tokens at both ends —
    inflating every count and ratio, and (worse) poisoning shingles so
    'hello world' and 'hello world\\n' shared ZERO shingles and
    near-dup detection missed the most common trivial variant.
    Strip-then-split rather than split-then-filter on purpose (see
    WS_EDGE_CHARS' cost note): with the edges stripped, a
    ``[class]+``-delimited split can produce no interior empties, so
    no per-element filter is needed."""
    t = _c(col)
    stripped = F.trim(t, F.lit(WS_EDGE_CHARS))
    return F.when(
        t.isNull() | (stripped == ""), F.array().cast("array<string>")
    ).otherwise(F.split(stripped, WS_PATTERN))


def token_count(col: str | Column, toks: Column | None = None) -> Column:
    """Whitespace token count (NULL text counts 0 tokens, see tokens).

    ``toks`` accepts a pre-staged ``tokens(col)`` column: expression
    trees that embed ``tokens()`` more than once are NOT collapsed by
    subexpression elimination (the stopword-filter HOF forces the whole
    projection interpreted, and interpreted Projects re-evaluate every
    duplicate — measured 1.6× on the quality-scoring shape), so hot call
    sites stage the array as a real column and pass it here.
    """
    return F.size(toks if toks is not None else tokens(col))


def bpe_ish_token_count(col: str | Column) -> Column:
    """Tokenizer-style token-count estimate via ``regexp_count``
    (NULL text counts 0, matching ``token_count``)."""
    return F.coalesce(
        F.regexp_count(_c(col), F.lit(BPE_ISH_PATTERN)), F.lit(0)
    )


def punct_ratio(col: str | Column) -> Column:
    """Punctuation characters / total characters (0 for empty text)."""
    n = char_count(col).cast("double")
    p = F.regexp_count(_c(col), F.lit(PUNCT_PATTERN)).cast("double")
    return F.when(n > 0, p / n).otherwise(F.lit(0.0))


def stopword_ratio(
    col: str | Column, lang: str = "en", ltoks: Column | None = None
) -> Column:
    """Fraction of tokens that are stopwords of ``lang`` (lowercased).

    ``ltoks`` accepts a pre-staged ``tokens(lower(col))`` column (the
    LOWERCASED token array — see ``token_count`` for why hot call sites
    stage it)."""
    words = STOPWORDS[lang]
    toks = ltoks if ltoks is not None else tokens(F.lower(_c(col)))
    hits = F.size(F.filter(toks, lambda t: t.isin(*words)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(
    col: str | Column,
    lang: str = "en",
    toks: Column | None = None,
    ltoks: Column | None = None,
) -> Column:
    """Composite document-quality heuristic in [0, 1].

    Blend of length band (prefers 20–2000 tokens), low punctuation noise,
    and stopword presence — the classic cheap pre-filter before expensive
    model-based scoring in a training-data pipeline.

    ``toks``/``ltoks`` accept pre-staged ``tokens(col)`` /
    ``tokens(lower(col))`` columns. Without them this expression embeds
    the tokenizer several times (the length band and the punct gate each
    reference the token count, the stopword component tokenizes the
    lowercased text), and the stopword-filter HOF keeps the whole
    projection OUT of whole-stage codegen — interpreted Projects have no
    common-subexpression elimination, so every duplicate re-splits the
    document (measured 1.6× on a 200k-doc corpus). Query call sites
    stage both arrays as real columns; Catalyst's CollapseProject keeps
    staged non-cheap expressions materialized instead of re-inlining
    them.
    """
    ntok = token_count(col, toks=toks).cast("double")
    length_component = F.when(ntok <= 0, F.lit(0.0)).otherwise(
        F.least(ntok / F.lit(20.0), F.lit(1.0))
        * F.least(F.lit(2000.0) / F.greatest(ntok, F.lit(1.0)), F.lit(1.0))
    )
    # Token-gated like the length component: "no punctuation noise" in
    # ZERO characters is not evidence of quality — ungated, the perfect
    # 1.0 here handed every empty/NULL document a 0.3 floor score, so a
    # keep-threshold at or below 0.3 would retain empty docs.
    punct_component = F.when(ntok <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.least(punct_ratio(col) * 4.0, F.lit(1.0))
    )
    stop_component = F.least(
        stopword_ratio(col, lang, ltoks=ltoks) * 5.0, F.lit(1.0)
    )
    return F.round(
        0.4 * length_component + 0.3 * punct_component + 0.3 * stop_component, 6
    )


def language_id(col: str | Column, ltoks: Column | None = None) -> Column:
    """Stopword-vote language ID over ``STOPWORDS`` languages.

    Returns the language with the highest stopword hit-count;
    deterministic tie-break on language code order; 'und' when no
    stopword of any language occurs.

    ``ltoks`` accepts a pre-staged ``tokens(lower(col))`` column: the
    per-language filter embeds the token array once per language (4×
    here), and the lambda keeps the projection interpreted — see
    ``quality_score``.
    """
    toks = ltoks if ltoks is not None else tokens(F.lower(_c(col)))
    scores = []
    for lang in sorted(STOPWORDS):
        words = STOPWORDS[lang]
        scores.append(
            F.struct(
                F.size(F.filter(toks, lambda t: t.isin(*words))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # array_max on struct uses lexicographic (hits, lang) ordering, so
    # equal hit-counts prefer the lexicographically LARGEST language code
    # ('fr' beats 'en'); the DuckDB oracle encodes the same largest-wins
    # rule in its CASE ordering.
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def tokens_or_null(col: str | Column) -> Column:
    """``tokens`` with the shingle-family NULL contract: NULL text maps
    to a NULL array (not ``[]``), so NULL-ness survives into shingle /
    fingerprint outputs. This is the expression hot call sites stage as
    a real column and hand to ``word_shingles(..., toks=...)`` — see
    that function's staging note."""
    c = _c(col)
    return F.when(c.isNull(), F.lit(None).cast("array<string>")).otherwise(
        tokens(c)
    )


def word_shingles(
    text_col: str | Column | None,
    k: int = 3,
    distinct: bool = True,
    toks: Column | None = None,
) -> Column:
    """``k``-word shingles of a text column as ``array<string>``.

    Built by zipping the token array with its own shifted tails
    (``zip_with`` + ``slice``) — k-1 linear passes, each element touched
    O(k) times total. Measured 4× faster than the
    transform-over-index-sequence form (``transform(sequence(...),
    i -> concat_ws(slice(...)))``), whose per-index array slicing is
    evaluated interpreted. Shingle *content* is identical.

    The final shift is null-padded by ``zip_with`` past the end of the
    token array; those tail positions are nulled and filtered, so exactly
    ``n_tokens - k + 1`` shingles survive. Documents shorter than ``k``
    tokens yield a single shingle of the whole text so they still
    participate in similarity.

    ``toks`` accepts a pre-staged ``tokens_or_null(text_col)`` column —
    the same staging contract as ``quality_score``: this expression
    references its token array ~k+5 times, the ``zip_with``/``filter``
    lambdas keep the projection OUT of whole-stage codegen, and
    interpreted Projects have no common-subexpression elimination, so
    inline every reference re-splits the document (measured 1.55× on
    the 3-gram shape at sf0.1). Hot call sites stage the array as a
    real column in a separate (codegen'd) projection and pass it here;
    each reference is then an attribute read, not a re-tokenization.
    """
    if toks is None:
        # tokens_or_null, not a raw split: phantom ''-tokens from
        # tab/newline padding made near-identical docs share zero
        # shingles (see tokens)
        toks = tokens_or_null(text_col)
    n = F.size(toks)
    if k <= 1:
        shingled = toks
    else:
        acc = toks
        for j in range(1, k):
            shifted = F.slice(toks, j + 1, F.greatest(n - j, F.lit(0)))
            if j < k - 1:
                acc = F.zip_with(acc, shifted, lambda x, y: F.concat_ws(" ", x, y))
            else:
                acc = F.zip_with(
                    acc,
                    shifted,
                    lambda x, y: F.when(y.isNull(), None).otherwise(
                        F.concat_ws(" ", x, y)
                    ),
                )
        shingled = F.filter(acc, lambda s: s.isNotNull())
    # NULL text stays NULL on ANSI-off sessions too: size(NULL) is -1
    # there (not NULL), so the short-document branch would fire and hand
    # NULL docs a phantom [""] shingle — fingerprinting them identically
    # to empty-string docs and diverging from rolling_fingerprint_df's
    # normalize-to-NULL contract. ZERO-token text (empty or
    # whitespace-only) yields NO shingles: the whole-text branch's
    # concat_ws over an empty array is '' — an artificial shingle that
    # near-dup-clustered every blank doc (exact dedup owns that class),
    # and one DuckDB cannot even express (array_to_string([]) is NULL).
    shingled = (
        F.when(toks.isNull(), F.lit(None).cast("array<string>"))
        .when(n == 0, F.array().cast("array<string>"))
        .when(n < k, F.array(F.concat_ws(" ", toks)))
        .otherwise(shingled)
    )
    return F.array_distinct(shingled) if distinct else shingled


def simhash64(col: str | Column) -> Column:
    """64-bit SimHash over whitespace tokens, pure column expression.

    For each bit b: sum over tokens of (+1 if bit b of xxhash64(token) set
    else -1); bit set in the output iff the sum is positive. Near-dup
    docs differ in few bits (compare with ``bit_count(a ^ b)``).
    """
    toks = tokens(_c(col))
    hashed = F.transform(toks, lambda t: F.xxhash64(t))
    bucket = F.lit(0).cast("long")
    for b in range(64):
        # shiftleft keeps bit 63 in signed-long range (1 << 63 would
        # overflow a JVM long literal)
        mask = F.shiftleft(F.lit(1).cast("long"), b)
        votes = F.aggregate(
            hashed,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        )
        bucket = bucket + F.when(votes > 0, mask).otherwise(F.lit(0).cast("long"))
    return bucket


def simhash_signatures(df, id_col: str, text_col: str, out_col: str = "simhash"):
    """64-bit SimHash per document as a DataFrame op — the scale path.

    Same hash family and bit semantics as ``simhash64`` but shaped as
    explode(tokens) → one ``xxhash64`` per token → 64 codegen'd
    single-bit ``sum`` aggregates plus one token count → bit reassembly.
    ``simhash64``'s 64 ``F.aggregate`` higher-order calls each re-walk
    the token array interpreted per bit; this shape hashes each token
    once, keeps the votes in whole-stage codegen with map-side partial
    aggregation, and shuffles exactly 65 longs per document per
    partition.

    The per-bit aggregate is the *positive* count ``sum((h >> b) & 1)``
    rather than a ±1 CASE vote: the signed vote is recovered as
    ``2·pos − n`` (so bit set ⟺ ``2·pos > n``), the expression tree is
    ~4× smaller (this aggregate's Catalyst analysis + codegen source
    generation, re-done per invocation, dominated the query at every
    scale factor), and null tokens need no branch — ``sum``/``count``
    skip nulls natively.

    Empty/null text keeps its row (``explode_outer`` → null token →
    ``n = 0``, all positives NULL → ``2·pos > n`` false) and
    fingerprints to 0, matching ``simhash64``.
    """
    # The 64 vote aggregates and the 64-term bucket reassembly are built
    # as SQL expression STRINGS, not chained Column operators: every
    # Column method is a py4j round-trip, and the ~500 calls of the
    # chained form cost 1.3-2.3 s of driver time per invocation
    # (measured; the expr form is ~0.25 s with a byte-identical result —
    # plan-construction time sits inside the bench's timed region, and
    # on a real cluster it is serial driver latency before any task
    # runs).
    inv = df.select(
        F.col(id_col),
        F.explode_outer(tokens(text_col)).alias("_t"),
    ).select(
        id_col,
        # xxhash64(NULL) is NOT null (nulls fold into the seed) — null
        # the hash explicitly so null tokens drop out of sum/count.
        F.when(F.col("_t").isNotNull(), F.xxhash64("_t")).alias("_h"),
    )
    votes = [
        F.expr(f"sum(shiftright(_h, {b}) & CAST(1 AS BIGINT)) AS _p{b}")
        for b in range(64)
    ]
    agg = inv.groupBy(id_col).agg(F.count("_h").alias("_n"), *votes)
    bucket = " + ".join(
        f"(CASE WHEN _p{b} * 2 > _n THEN shiftleft(CAST(1 AS BIGINT), {b}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for b in range(64)
    )
    qid = id_col.replace("`", "``")
    qout = out_col.replace("`", "``")
    return agg.selectExpr(f"`{qid}`", f"({bucket}) AS `{qout}`")


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit SimHash values."""
    return F.bit_count(a.bitwiseXOR(b))


# --- PII (compliance pass) -------------------------------------------------
# Regexes chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB), so the oracle-checked query and any external audit agree.

PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# At least NINE digits with optional single hyphens between them: an
# ISO date (2024-01-15) carries exactly eight digits, so the old
# "9+ digit-or-hyphen chars" form redacted every date and timestamp in
# a corpus as a [PHONE]. Nine digits is the floor of real-world dialable
# numbers (NANP 10-11, E.164 up to 15); long numeric ids remain
# documented false positives. (?:...) is portable Java-regex + RE2.
PII_PHONE_PATTERN = r"\+?\d(?:-?\d){8,}"

PII_PATTERNS = {"email": PII_EMAIL_PATTERN, "phone": PII_PHONE_PATTERN}


def redact_pii(col: str | Column) -> Column:
    """All known PII kinds replaced with ``[KIND]`` tokens, one regex
    pass per kind, JVM-side."""
    out = _c(col)
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"[{kind.upper()}]")
    return out


def rolling_fingerprint(
    col: str | Column, window: int = 8, keep: int = 4, hash_fn=None
) -> Column:
    """Winnowing-style document fingerprint: the ``keep`` smallest hashes
    of ``window``-token shingles, as a sorted array (bigint under the
    default ``xxhash64``; the element type follows ``hash_fn``).

    Two documents sharing long runs of text share fingerprint entries —
    the standard plagiarism/near-dup sketch (Schleimer et al. winnowing),
    here as a single JVM-side expression. The selection semantics live
    ONLY here: ``rolling_fingerprint_md5`` is this with ``hash_fn=F.md5``
    (one definition, so the two hash families can never drift apart).
    """
    hash_fn = hash_fn or F.xxhash64
    shingled = word_shingles(_c(col), k=window, distinct=False)
    hashed = F.array_sort(F.transform(shingled, lambda s: hash_fn(s)))
    return F.slice(hashed, 1, keep)


def rolling_fingerprint_df(
    df,
    id_col: str,
    text_col: str,
    window: int = 8,
    keep: int = 4,
    hash_fn=None,
    out_col: str = "fingerprint",
):
    """Winnowing fingerprints as a DataFrame op — the throughput twin of
    the ``rolling_fingerprint*`` column forms (same pattern as
    ``simhash64`` vs ``simhash_signatures``).

    The column forms build ``window - 1`` zip_with shifts whose slice
    arguments each re-evaluate the tokenization per row (interpreted
    HOFs have no common-subexpression elimination) — measured 4× slower
    than this shape: posexplode(tokens) → ``window``-gram via
    ``lead`` over a (doc, pos) window → hash → per-doc
    ``keep``-smallest. Costs one shuffle of the token stream (≈ corpus
    size), tokenizes each document exactly once, and every stage is
    whole-stage-codegen'd.

    Same semantics as the column forms: documents shorter than
    ``window`` tokens contribute one whole-text gram (``concat_ws``
    skips the NULL leads); ZERO-token text (empty/whitespace-only)
    yields an EMPTY fingerprint (word_shingles' n == 0 branch — no
    artificial ''-gram); NULL text yields a NULL fingerprint
    (``posexplode_outer`` keeps the row — a plain explode would
    silently DROP NULL-text documents from the output, diverging from
    the column forms).
    ``hash_fn`` defaults to ``F.md5`` (oracle-parity); pass
    ``F.xxhash64`` for the compact production fingerprint.
    """
    from pyspark.sql import Window

    hash_fn = hash_fn or F.md5
    # tokens(), not a raw split (phantom ''-tokens from tab/newline
    # padding — see tokens). A zero-token array posexplode_outers into
    # the SAME (NULL, NULL) carrier row a NULL array does, so NULL-ness
    # of the text rides along as a flag to keep the two cases apart at
    # the aggregate.
    toks = df.select(
        F.col(id_col),
        _c(text_col).isNull().alias("_null_text"),
        F.posexplode_outer(tokens(text_col)).alias("_pos", "_t"),
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    gram = F.when(F.col("_t").isNull(), F.lit(None)).otherwise(
        F.concat_ws(
            " ", "_t", *[F.lead("_t", j).over(w) for j in range(1, window)]
        )
    )
    n = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    grams = (
        toks.withColumn("_n", n)
        .withColumn("_g", gram)
        .filter(
            (F.col("_pos") + window - 1 < F.col("_n"))
            | ((F.col("_n") < window) & (F.col("_pos") == 0))
            | F.col("_pos").isNull()  # NULL/zero-token carrier row
        )
    )
    # Gate on _g IS NOT NULL explicitly: md5(NULL) is NULL but
    # xxhash64(NULL) is the seed hash (a real value!), so relying on the
    # hash to propagate the carrier row's NULL would leak a phantom
    # fingerprint into NULL-text docs under the production hash family.
    gated = F.when(F.col("_g").isNotNull(), hash_fn(F.col("_g")))
    fp = F.slice(F.array_sort(F.collect_list(gated)), 1, keep)
    # collect_list skips the gated-NULL carrier rows, leaving an empty
    # array for BOTH NULL-text and zero-token docs — the _null_text
    # flag keeps the column-form contract apart: NULL fingerprint for
    # NULL text, EMPTY fingerprint for token-less text.
    return grams.groupBy(id_col).agg(
        F.when(F.max("_null_text"), F.lit(None))
        .otherwise(fp)
        .alias(out_col)
    )


def rolling_fingerprint_md5(
    col: str | Column, window: int = 8, keep: int = 4
) -> Column:
    """Winnowing fingerprint with md5-hex shingle hashes instead of
    ``xxhash64``: identical selection semantics (the ``keep`` smallest
    hashes of ``window``-token shingles, sorted), but the hash family is
    available verbatim in DuckDB so the result is oracle-checkable.
    Hex strings order identically under Spark's and SQL's binary
    collation, so "smallest k" agrees across engines.

    Scale note: ``rolling_fingerprint`` (8-byte longs, xxhash64) is the
    production path; this twin exists for differential verification and
    costs ~4× the fingerprint bytes.
    """
    return rolling_fingerprint(col, window=window, keep=keep, hash_fn=F.md5)


#: What canonicalization strips: anything that is not a Unicode letter,
#: digit, whitespace, or underscore. Deliberately ``\p{L}\p{N}`` and
#: NOT ``\w`` — Java's and RE2's ``\w`` is ASCII-only, so a ``\w``
#: form canonicalizes every CJK/Cyrillic/Arabic document to the empty
#: string and near-exact dedup would merge ALL non-Latin documents into
#: one false duplicate group. Both engines support ``\p{L}\p{N}``
#: identically (differential-tested in tests/test_properties.py).
CANON_STRIP_PATTERN = r"[^\p{L}\p{N}\s\p{Z}_]"


def canonicalize_text(col: str | Column) -> Column:
    """Dedup canonical form: lowercase, punctuation/symbols stripped
    (Unicode-aware — letters and digits of every script survive),
    whitespace runs collapsed to single spaces, trimmed.

    The standard near-exact normalization between exact dedup (byte
    identity) and fuzzy dedup (Jaccard/MinHash): it merges casing,
    punctuation, and whitespace variants of the same passage — the bulk
    of "trivially different" crawl duplicates — while staying a pure
    deterministic Column expression (one regexp pass each, engine-
    portable so a SQL oracle can mirror it exactly).
    """
    c = F.lower(_c(col))
    c = F.regexp_replace(c, CANON_STRIP_PATTERN, "")
    c = F.regexp_replace(c, WS_PATTERN, " ")
    return F.trim(c)
