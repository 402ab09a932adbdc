"""Adversarial cross-engine parity: run the ACTUAL registry queries and
their ACTUAL oracle SQL over deliberately DIRTY fixtures, asserting the
two engines produce identical results on inputs far messier than the
local testdata.

Motivation: the round-7 driver gate hash-failed ``json_agg`` — the
engine's typed ``from_json`` and the oracle's
``json_extract_string + CAST`` are *different functions* that agreed
only on clean ``{"k": <uint>}`` props.  The fix pins parse semantics on
both sides (regex-guarded integer extraction); this module is the
regression net for that whole fragility class — JSON extraction, regex
dialect, string collation / non-ASCII, datetime edges, and
CAST-vs-TRY_CAST — each fed a fixture engineered to expose divergence
(quoted numbers, floats, exponent forms, >int64, malformed JSON,
unicode, missing delimiters, leap days, ISO-week boundaries).

The comparison mirrors the driver gate (and scripts/check_oracle.py):
order-insensitive rows, columns sorted by name, exact normalized cell
values.
"""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod


# --------------------------------------------------------------------------
# driver-gate comparison (same normalization as scripts/check_oracle.py)
# --------------------------------------------------------------------------

def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v))
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out)


def _assert_engines_agree(spark, sf_dir, query_name):
    """Run registry query `query_name` on Spark and its oracle on DuckDB
    over the same (dirty) sf_dir; assert driver-gate equality."""
    sdf = entry_mod.queries()[query_name](spark, sf_dir)
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    try:
        for t in ("events", "documents", "customer", "orders", "part",
                  "embeddings", "lineitem", "supplier", "nation",
                  "region"):
            p = os.path.join(sf_dir, t + ".parquet")
            if os.path.isdir(p):
                # Spark writes parquet "files" as directories of parts
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
            elif os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        rel = con.sql(entry_mod.oracle_sql()[query_name])
        d_cols, d_rows = list(rel.columns), rel.fetchall()
    finally:
        con.close()

    sc, sv = _normalize(s_cols, s_rows)
    dc, dv = _normalize(d_cols, d_rows)
    assert sc == dc, f"{query_name}: column mismatch {sc} != {dc}"
    assert len(sv) == len(dv), (
        f"{query_name}: rowcount {len(sv)} != {len(dv)}")
    diffs = [(a, b) for a, b in zip(sv, dv) if a != b]
    assert not diffs, f"{query_name}: first diffs {diffs[:5]}"


# --------------------------------------------------------------------------
# dirty fixtures — one sf-dir-shaped tmp directory
# --------------------------------------------------------------------------

DIRTY_PROPS = [
    '{"k": 7}',                          # clean
    '{"k": "7"}',                        # quoted number
    '{"k": "007"}',                      # quoted, leading zeros
    '{"k": 1.5}',                        # float
    '{"k": 1e2}',                        # exponent (both canon to 100.0)
    '{"k": -42}',                        # negative
    '{"k": 99999999999999999999}',       # > int64
    '{"k": 9223372036854775807}',        # == int64 max (19 digits -> NULL)
    '{"k": 123456789012345678}',         # 18 digits, fits
    '{"k": null}',                       # JSON null
    '{"k": true}',                       # boolean
    '{"k": " 7"}',                       # whitespace-padded string
    '{"j": 5}',                          # missing key
    '{}',                                # empty object
    'not json',                          # malformed
    '',                                  # empty string
    '[1,2,3]',                           # array root
    '{"k": {"a": 1}}',                   # nested object value
    '{"k": [1]}',                        # array value
    '{"k": "-0"}',                       # negative zero string
    None,                                # NULL props
    '{"k": 0.5e1}',                      # exponent canon to 5.0
    '{"k": 7.0}',                        # float-typed integer
    '{"k": "+7"}',                       # explicit plus (not an int regex)
    '{"k": 007}',                        # invalid JSON number literal
    '{"k":\n 9}',                        # embedded newline
    # trailing line terminators inside the STRING value: Java's $
    # matches before a final \n (and the string->long cast trims it),
    # RE2's regexp_full_match does not — caught only by \A..\z anchors
    '{"k": "7\\n"}',
    '{"k": "7\\r"}',
    # aggregate-overflow block: each value is individually regex-legal
    # (18 digits) but 30 of them sum to 2.7e19 > int64 max — Spark's
    # long SUM wraps (ANSI off) or throws (ANSI on) while DuckDB
    # promotes to HUGEINT; only a DECIMAL(38,0)-pinned SUM agrees
] + ['{"k": 900000000000000000}'] * 30

DIRTY_TEXT = [
    "hello world 123",                   # clean
    "12345 67890",                       # no alpha at all
    "",                                  # empty
    None,                                # NULL
    "héllo wörld straße", # non-ASCII letters
    "данные 42",  # cyrillic
    "line one\nline two 7",              # newline
    "tab\there",                         # tab
    "a.b*c+d?e(f)g[h]i",                 # regex metacharacters as data
    "MiXeD CaSe WoRdS",                  # case
    "   leading spaces",                 # whitespace edges
    "trailing spaces   ",
    "中文文本 99",       # CJK (no [A-Za-z] match)
    "emoji \U0001f600 test",             # astral-plane codepoint
    "00numbers11mixed22alpha",
    # unicode case-mapping divergence probes (r8 audit): Spark
    # lower('İ') = 'i' + combining dot (TWO codepoints — injects a
    # phantom ASCII 'i' token) vs DuckDB 'i'; Greek final-sigma
    # context rules differ; ligature/ß uppercase expansion differs.
    # The tokenizer tier survives these ONLY because it case-folds
    # through ascii_lower (translate), never unicode lower().
    "İstanbul İZMİR word",               # dotted capital I (U+0130)
    "ΣΙΣΥΦΟΣ σίσυφος mixed",             # final-sigma context
    "straße ﬁle ǅungla end",             # sharp s, fi ligature, Dž digraph
    "vertical\x0btab seven",             # \x0B: in Java \s, NOT in RE2 \s
    "nbsp space",                   # U+00A0 (neither engine's \s)
    "para sep",                     # U+2028 line separator
]

DIRTY_SEGMENTS = [
    "BUILDING",                          # clean ASCII
    "BÜILDING",                     # non-ASCII upper
    "straße",                       # sharp s
    "",                                  # empty
    "A",                                 # single char
    "SEG MENT",                          # embedded space
]

DIRTY_NAMES = [
    "Customer#000000001",                # clean
    "Customer-no-hash",                  # missing '#' delimiter
    "#leading",                          # delimiter first
    "trailing#",                         # delimiter last
    "a#b#c",                             # multiple delimiters
    "",                                  # empty
]

DIRTY_DATES = [
    "1996-02-29",                        # leap day
    "1995-01-01",                        # ISO week 52 of prior year
    "1998-12-31",                        # ISO week 53
    "2000-01-03",                        # first ISO Monday of year
    "1995-01-31",                        # +3 months clamps to Apr 30
    "1996-11-30",                        # month end
    "1992-01-01",
    "1998-08-02",
]

DIRTY_PRICES = [100.5, 0.0, 1.0, 123456.789, 0.004, 99999.99, 3.0, 7.25]

# Embedding probes (dim 8, NOT the testdata's 64): cosine of a ZERO
# vector is 0/0, duplicate vectors make distance ties, large/tiny
# magnitudes probe the double fold inside the documented scaled-BIGINT
# domain (micro-unit centroid folds require |x| < ~9e12; embeddings at
# 1e30 are outside every op's contract), negatives probe abs/sign
# handling in quantization.
DIRTY_VECS = [
    [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],     # unit axis
    [0.0] * 8,                                     # ZERO vector: 0/0 cosine
    [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],     # exact duplicate of 0
    [-1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],    # antipodal
    [1e5, 1e5, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],     # large magnitude
    [1e-7, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1e-7],   # tiny magnitude
    [0.5, -0.5, 0.5, -0.5, 0.5, -0.5, 0.5, -0.5], # mixed signs (dyadic)
    [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0],
    [2.0, 1.0, 0.0, -1.0, -2.0, 3.0, -3.0, 0.5],
    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8],     # decimal→float rounding
]


@pytest.fixture(scope="module", autouse=True,
                params=["ansi-on", "ansi-off"])
def ansi_mode(request, spark):
    """Run the whole dirty-fixture suite under BOTH ANSI settings.

    The session pins spark.sql.ansi.enabled=true (session.py), but the
    3.5.x default is false and results must not depend on the mode:
    ANSI-off silently WRAPS int64 overflow where ANSI-on throws, so an
    unpinned aggregate can pass one mode's run and hash-fail the
    other's (the r8 json_agg driver failure). Every parity assertion in
    this module therefore executes twice; width-pinned sums and
    CASE-guarded casts are what make both passes agree with DuckDB.
    """
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled",
                   "true" if request.param == "ansi-on" else "false")
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", prev)


def _dirty_event_rows():
    """Full-schema events rows (r9): the analytics tier (cusum/twap/
    zscore/rolling windows/funnels) was doctrine-pinned but never ran
    on dirty data because the fixture's events table had only
    (event_id, props). Probes: EXACT-duplicate timestamps within one
    user (any window ordered by ts alone would diverge between
    engines without an id tie-break), NULL value and NULL/empty
    event_type rows, value extremes (0.0, negatives, 1e-7, ~1e6, a
    .005 rounding tie), a lone-event user, and a 40-day gap."""
    import datetime

    base = datetime.datetime(2024, 3, 3, 9, 0, 0)  # Sunday: ISO-week edge
    vals = [6.55, None, 0.0, -42.5, 123456.789, 1e-7, 2.675,
            999999.99, -0.005, 50.0]
    types = ["click", "view", "purchase", "error", "", None]
    rows = []
    for i, props in enumerate(DIRTY_PROPS):
        user = i % 5
        ts = base + datetime.timedelta(
            minutes=13 * i, hours=3 * user, days=(i % 4) * 2)
        rows.append((i, ts, user, types[i % len(types)],
                     vals[i % len(vals)], props))
    n = len(rows)
    dup = base + datetime.timedelta(hours=1)
    rows += [
        # same user, byte-identical ts — the tie-break probe
        (n, dup, 2, "click", 10.0, None),
        (n + 1, dup, 2, "view", 20.0, None),
        # same ts on ANOTHER user (partition isolation)
        (n + 2, dup, 3, "click", 30.0, None),
        # lone-event user + a 40-day gap pair (session boundary)
        (n + 3, base + datetime.timedelta(days=40), 9, "click", 7.5, None),
        (n + 4, base + datetime.timedelta(days=40, hours=9), 9,
         "purchase", -7.5, None),
    ]
    return rows


@pytest.fixture(scope="module")
def dirty_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dirty_sf"))

    spark.createDataFrame(
        _dirty_event_rows(),
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).coalesce(1).write.parquet(os.path.join(d, "events.parquet"))

    # real sf0.001 documents + the dirty probes (ids offset clear of the
    # real range): the dedup/text tiers then net on realistic shingle
    # and token distributions WITH the unicode/NULL/empty edges mixed in
    from db_spark.sources import read_table as _rt
    real_docs = _rt(spark, "/root/testdata/sf0.001", "documents")
    dirty_docs = spark.createDataFrame(
        [(900000 + i, v, ("en", "de", None)[i % 3], f"src{i % 2}",
          len(v) if v is not None else None)
         for i, v in enumerate(DIRTY_TEXT)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    )
    real_docs.unionByName(dirty_docs).coalesce(1).write.parquet(
        os.path.join(d, "documents.parquet"))

    spark.createDataFrame(
        [(i, [float(x) for x in v], i % 3)
         for i, v in enumerate(DIRTY_VECS)],
        "vec_id bigint, embedding array<float>, label int",
    ).coalesce(1).write.parquet(os.path.join(d, "embeddings.parquet"))

    _write_dirty_relational(spark, d)
    return d


def _write_dirty_relational(spark, d):
    """Relational tier of the dirty dir (r9): REAL sf0.001 tables
    unioned with adversarial rows, so every TPC-H-shaped registry query
    runs the cross-engine net on data its plain testdata never shows —
    filter-boundary doubles (discount exactly at the 0.05/0.07
    predicate edges), half-cent rounding ties, zero quantities/prices,
    out-of-domain flag values, duplicate line keys, orphan foreign
    keys, unicode names, and the existing DIRTY_NAMES/SEGMENTS/DATES/
    PRICES probes folded into customer/orders crafted rows."""
    import datetime

    from db_spark.sources import read_table

    real = "/root/testdata/sf0.001"

    def dt(s):
        return datetime.datetime.fromisoformat(s)

    li = read_table(spark, real, "lineitem")
    li_extra = spark.createDataFrame([
        # filter-boundary probes around 0.05 <= disc <= 0.07, qty < 24
        (9000001, 1, 1, 1, 23.999999, 1000.0, 0.05, 0.02, "A", "F",
         dt("1996-02-29")),
        (9000001, 1, 1, 2, 24.0, 1000.0, 0.07, 0.02, "A", "F",
         dt("1996-02-29")),
        (9000002, 2, 2, 1, 24.000001, 1000.0, 0.0499999999, 0.0, "N", "O",
         dt("1992-01-01")),
        (9000002, 2, 2, 2, 1.0, 1000.0, 0.0700000001, 0.08, "N", "O",
         dt("1998-12-31")),
        # half-cent rounding ties and zeros in the money folds
        (9000003, 3, 3, 1, 10.0, 1234.565, 0.005, 0.005, "R", "F",
         dt("1995-06-17")),
        (9000003, 3, 3, 2, 0.0, 0.0, 0.0, 0.0, "R", "F",
         dt("1995-06-17")),
        (9000004, 4, 4, 1, 50.0, 99999.995, 0.1, 0.08, "A", "F",
         dt("1997-07-01")),
        # out-of-domain flag/status + duplicate (orderkey, linenumber)
        (9000005, 5, 5, 1, 5.0, 500.5, 0.02, 0.01, "X", "", dt("1994-11-30")),
        (9000005, 5, 5, 1, 5.0, 500.5, 0.02, 0.01, "X", "", dt("1994-11-30")),
        # orphan part/supplier keys (no matching dimension row)
        (9000006, 999999, 999999, 1, 7.0, 7.25, 0.04, 0.0, "N", "O",
         dt("1993-03-31")),
        # SINGLETON return-flag group (n=1): sample stddev/corr
        # denominators hit (n-1)=0 and zero variance — Spark ANSI
        # throws on the divide where DuckDB NULLs unless guarded
        (9000007, 6, 6, 1, 3.0, 42.42, 0.01, 0.0, "Y", "O",
         dt("1997-01-01")),
    ], li.schema)
    li.unionByName(li_extra).coalesce(1).write.parquet(
        os.path.join(d, "lineitem.parquet"))

    o = read_table(spark, real, "orders")
    o_extra = spark.createDataFrame(
        [
            # the pre-r9 dirty orders rows (edge dates + price ties),
            # now with full schema: orphan custkey 999999 on even rows
            (9000000 + i, 999999 if i % 2 == 0 else 1 + i % 100,
             "Z" if i == 0 else ("O" if i % 2 else "F"),
             DIRTY_PRICES[i], dt(DIRTY_DATES[i]),
             "1-URGENT" if i % 2 else "5-LOW")
            for i in range(len(DIRTY_DATES))
        ] + [
            (9000100, 999998, "P", 0.0, dt("1996-02-29"), ""),
            (9000101, 2, "O", 12345.675, dt("1998-12-31"), "9-ODD"),
        ],
        o.schema)
    o.unionByName(o_extra).coalesce(1).write.parquet(
        os.path.join(d, "orders.parquet"))

    c = read_table(spark, real, "customer")
    c_extra = spark.createDataFrame(
        [
            # the pre-r9 dirty customer rows (delimiter probes in names,
            # unicode segments), full schema; orphan nationkey 99
            (900000 + i, DIRTY_NAMES[i % len(DIRTY_NAMES)],
             99 if i == 0 else i % 5, -999.995 if i == 1 else float(i),
             DIRTY_SEGMENTS[i % len(DIRTY_SEGMENTS)])
            for i in range(12)
        ],
        c.schema)
    c.unionByName(c_extra).coalesce(1).write.parquet(
        os.path.join(d, "customer.parquet"))

    p = read_table(spark, real, "part")
    p_extra = spark.createDataFrame(
        [
            (900000 + i, DIRTY_NAMES[i % len(DIRTY_NAMES)] or f"part {i}",
             "Brand#99", "STANDARD" if i % 2 else "", 0 if i == 0 else i,
             1234.565 if i % 3 == 0 else 0.0)
            for i in range(10)
        ],
        p.schema)
    p.unionByName(p_extra).coalesce(1).write.parquet(
        os.path.join(d, "part.parquet"))

    s = read_table(spark, real, "supplier")
    s_extra = spark.createDataFrame(
        [(900000, "Supplier#üñí", 99, -0.005)], s.schema)
    s.unionByName(s_extra).coalesce(1).write.parquet(
        os.path.join(d, "supplier.parquet"))

    for t in ("nation", "region"):
        read_table(spark, real, t).coalesce(1).write.parquet(
            os.path.join(d, t + ".parquet"))


# --------------------------------------------------------------------------
# the tests — one per fragile family
# --------------------------------------------------------------------------

def test_json_agg_dirty_props(spark, dirty_dir):
    """json_agg in its r11 canonical bounded-BIGINT lanes form (the r10
    bisection diagnostics counts/lanes/v2 were retired once they
    conclusively localized the driver hash-fail to DECIMAL(38,0) output
    canonicalization)."""
    _assert_engines_agree(spark, dirty_dir, "json_agg")


def test_json_funcs_dirty_props(spark, dirty_dir):
    _assert_engines_agree(spark, dirty_dir, "json_funcs")


def test_regex_funcs_dirty_text(spark, dirty_dir):
    _assert_engines_agree(spark, dirty_dir, "regex_funcs")


def test_string_funcs_dirty_strings(spark, dirty_dir):
    _assert_engines_agree(spark, dirty_dir, "string_funcs")


def test_datetime_funcs_edge_dates(spark, dirty_dir):
    _assert_engines_agree(spark, dirty_dir, "datetime_funcs")


def test_scalar_funcs_edge_numbers(spark, dirty_dir):
    _assert_engines_agree(spark, dirty_dir, "scalar_funcs")


# r8 sweep extension: the tokenizer/text family shares regex + unicode
# semantics across engines (Java regex + Spark string functions vs
# DuckDB RE2 + codepoint strings); astral-plane emoji, CJK, NULLs and
# empty strings are where code-unit-vs-codepoint divergence would bite.

def test_text_stats_dirty_text(spark, dirty_dir):
    _assert_engines_agree(spark, dirty_dir, "text_stats")


def test_explode_tokens_dirty_text(spark, dirty_dir):
    _assert_engines_agree(spark, dirty_dir, "explode_tokens")


def test_chunk_docs_dirty_text(spark, dirty_dir):
    _assert_engines_agree(spark, dirty_dir, "chunk_docs")


def test_corpus_stats_dirty_text(spark, dirty_dir):
    _assert_engines_agree(spark, dirty_dir, "corpus_stats")


def test_normalize_text_dirty_text(spark, dirty_dir):
    _assert_engines_agree(spark, dirty_dir, "normalize_text")


def test_dedup_exact_dirty_text(spark, dirty_dir):
    """fingerprint = md5(ascii_lower(ws-normalized text)) — the r8 pin
    after the audit found unicode lower() and Java-vs-RE2 \\s diverge
    (İ, final sigma, vertical tab probes above)."""
    _assert_engines_agree(spark, dirty_dir, "dedup_exact")


# Tokenizer-derived tier: every query below case-folds through
# ascii_lower and tokenizes with literal ASCII classes; running them
# over the İ/final-sigma/ligature/VT probes converts the audit's
# "doctrine-pinned" classification into executed dirty-data evidence.

#: Smoke/full ANSI tiering (r13 suite budget, the r12 verdict's
#: directive #2): the module-scoped ansi_mode fixture doubles every
#: parity case, which put the full sweep past the external driver's
#: pytest budget. In the default (smoke) tier each parametrized KEY
#: runs under ONE deterministically-chosen ANSI mode — every key keeps
#: dirty-fixture coverage on every run, and the mode alternates by key
#: hash so both modes stay exercised across the sweep. The full tier
#: (SPARK_GRAFT_FULL_TESTS=1, run by the builder every round) keeps
#: the exhaustive both-modes matrix.
_FULL_TIER = os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1"


def _skip_other_ansi_mode(key: str, ansi_mode: str) -> None:
    import zlib

    if _FULL_TIER:
        return
    want = "ansi-on" if zlib.crc32(key.encode()) % 2 == 0 else "ansi-off"
    if ansi_mode != want:
        pytest.skip(f"{key} runs under {want} in the smoke tier")


@pytest.mark.parametrize("key", [
    "quality_rules", "token_budget", "unigram_surprisal",
    "bigram_surprisal", "keywords_tfidf", "bm25_topk",
    "repetition_stats", "collocations", "skipgram_counts",
    "span_dup", "hashed_features", "redact_pii", "classifier_score",
    "nb_train",
])
def test_tokenizer_tier_dirty_text(spark, dirty_dir, key, ansi_mode):
    _skip_other_ansi_mode(key, ansi_mode)
    _assert_engines_agree(spark, dirty_dir, key)


# Dedup tier: shingle/minhash/simhash candidate generation + grouping
# fast paths over the same probes — duplicate texts exist in the dirty
# fixture only if two rows carry byte-identical text, so these mostly
# exercise the empty/NULL/unicode edges of shingling and the md5 hash
# family on non-ASCII bytes.

@pytest.mark.parametrize("key", [
    "ngram_jaccard", "jaccard_join", "jaccard_grouped",
    "simhash", "simhash_near_dup", "simhash_grouped",
    "minhash_lsh_pairs",
    "dedup_corpus", "dedup_keep_best", "dedup_clusters",
    "curate_corpus", "curate_corpus_v2", "decontaminate", "lsh_probe",
    "winnow_fingerprints", "winnow_overlap", "winnow_spans",
    "winnow_cut", "winnow_probe",
])
def test_dedup_tier_dirty_text(spark, dirty_dir, key, ansi_mode):
    _skip_other_ansi_mode(key, ansi_mode)
    _assert_engines_agree(spark, dirty_dir, key)


# Embedding tier over the zero/duplicate/huge/tiny vector probes: the
# cross-engine risks are the 0/0 cosine of the zero vector, distance
# ties between duplicate vectors (total-order tie-breaks must agree),
# and the float fold order on extreme magnitudes.

# dbscan is excluded like embedding_near_dup below: its eps-
# neighborhoods come from the same SRP blocking, so label equality with
# the brute-force oracle is only guaranteed at testdata-like recall
# (cluster labels admit no pair-containment check).
@pytest.mark.parametrize("key", [
    "cosine_topk", "embedding_quantize", "centroid_outliers",
    "array_funcs", "mmr_rerank", "kcenter", "semantic_dedup",
    "pca_project", "pca_topk", "pq_topk", "ivfpq_topk", "pq_sampled",
    "pq_subspace_var", "pq_index_topk", "ivfpq_index_topk",
    "embedding_decontaminate", "l2_topk", "ivfpq_recall",
])
def test_embedding_tier_dirty_vecs(spark, dirty_dir, key, ansi_mode):
    _skip_other_ansi_mode(key, ansi_mode)
    _assert_engines_agree(spark, dirty_dir, key)


def test_srp_blocked_ops_precision_on_dirty_vecs(spark, dirty_dir):
    """embedding_near_dup pairs are SRP-BLOCKED: candidate generation is
    approximate (recall <= 1 on adversarial vector sets — near-dup pairs
    can straddle every shared segment), but verification is exact, so
    every emitted pair must appear in the brute-force oracle's pair set
    with the same similarity (precision 1). Equality holds on the
    testdata distribution (driver rows green at three scales); dirty
    vectors check the sound direction only."""
    import duckdb

    sdf = entry_mod.queries()["embedding_near_dup"](spark, dirty_dir)
    got = {(r[0], r[1]): r[2] for r in sdf.collect()}

    con = duckdb.connect()
    try:
        p = os.path.join(dirty_dir, "embeddings.parquet")
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM {src}")
        want = {(a, b): s for a, b, s in con.sql(
            entry_mod.oracle_sql()["embedding_near_dup"]).fetchall()}
    finally:
        con.close()
    assert set(got).issubset(set(want)), set(got) - set(want)
    for k_, v in got.items():
        assert abs(v - want[k_]) < 1e-9, (k_, v, want[k_])


def test_fuzzy_join_dirty_names(spark, dirty_dir):
    _assert_engines_agree(spark, dirty_dir, "fuzzy_join")


# Analytics/events tier (r9): the full-schema dirty events table above
# routes EXACT-duplicate timestamps (window tie-breaks), NULL value /
# NULL+empty event_type rows, value extremes and a 40-day session gap
# through every registry query that reads events — converting the
# scaled-BIGINT doctrine pins from "by construction" to executed
# dirty-data evidence. First sweep caught a real one: seasonal
# residuals leaked IEEE -0.0 on exactly cancelled subtractions.

# Full-registry completion (r9): every key not already covered by a
# focused tier above runs against the complete dirty dir — the REAL
# sf0.001 relational tables unioned with the adversarial rows, plus
# the synthetic dirty events/documents/embeddings. The first full
# sweep found five live divergences (Spark builtin corr THROWS under
# ANSI on zero-variance groups; ANSI throw vs DuckDB NULL on zero
# divisors in two money folds; NULL-vs-0 empty pivot cells; n_bytes
# 0-vs-NULL on NULL payloads) and one oracle fault (hardcoded
# 64-dim centroid loop NULLing on 8-dim vectors). `dbscan` and
# `embedding_near_dup` stay excluded by the documented SRP-recall
# contract (their pair-containment test below is the sound check).

@pytest.mark.parametrize("key", [
    "anti_join", "assoc_rules", "benford", "bfs_hops", "bloom_prefilter",
    "bootstrap", "chi2_independence", "cm_heavy_hitters", "cm_join_size",
    "communities", "concat", "condition_dsl", "constant_scan",
    "copurchase_pairs", "correlated_subquery", "count_distinct", "cube",
    "customer_distribution", "deterministic_split", "disjunctive_revenue",
    "distinct", "domain_cap", "dq_report", "entity_resolution",
    "entropy_profile", "exact_percentiles", "except", "excess_supply",
    "filter", "fk_integrity", "forecast_revenue", "full_outer",
    "global_agg", "grouping_sets", "hash_match", "hist_quantiles",
    "hll_distinct", "hll_merge", "hll_set_ops", "holt_backtest",
    "holt_forecast", "hybrid_rrf", "idle_rich_customers",
    "importance_sample", "important_stock", "intersect", "interval_join",
    "ivf_index_topk", "ivf_kmeans_topk", "ivf_rbo", "ivf_recall",
    "ivf_topk", "kcenter_batched", "kcore", "kmv_distinct", "kmv_merge",
    "kmv_set_ops", "large_orders", "late_only_supplier",
    "late_shipment_priority", "leakage_split", "linreg",
    "local_supplier_volume", "map_struct_funcs", "market_share",
    "matview_incremental", "matview_join", "media_features",
    "merge_intervals", "min_cost_supplier", "minhash_signature",
    "mjpeg_features", "mode_by_group", "multi_join",
    "mvcc_cdc", "mvcc_delete_where",
    "mvcc_evolve", "mvcc_history", "mvcc_multi_tx", "mvcc_snapshot",
    "mvcc_vacuum", "nested_loop", "outer_join", "pack_sequences",
    "pagerank", "pivot", "ppr", "price_qty_corr", "pricing_summary",
    "priority_shipments", "product_profit", "profile_table",
    "projection", "promo_revenue", "psi_drift", "range_join",
    "rank_funcs", "returned_items", "rollup", "salted_join_agg",
    "scalar_subquery", "semi_join", "shard_plan", "shipping_priority",
    "skew_profile", "skip", "skyline", "small_qty_revenue", "sort",
    "span_dedup", "stats_agg", "stratified_fixed", "stratified_sample",
    "supplier_part_count", "table_scan", "take", "temperature_sample",
    "theta_join", "top_supplier", "topn_per_group", "triangle_count",
    "unpivot", "video_features", "volume_shipping", "weighted_paths",
    "weighted_sample", "window_frames", "window_funcs", "winsorize",
])
def test_full_registry_dirty_dir(spark, dirty_dir, key, ansi_mode):
    _skip_other_ansi_mode(key, ansi_mode)
    _assert_engines_agree(spark, dirty_dir, key)


@pytest.mark.parametrize("key", [
    "event_funnel", "cohort_retention", "event_funnel_windowed",
    "gapfill_locf", "gapfill_interp", "sessionize", "scd2", "ewma",
    "mad_outliers", "hll_rolling", "seasonal_decompose",
    "seasonal_anomalies", "twap", "cusum", "attribution", "transitions",
    "ab_test", "survival", "funnel_latency", "rolling_corr",
    "conversion_ci", "top_paths", "zscore_outliers", "range_frame_agg",
    "hypertable_rollup", "count_when", "asof_join",
    "tumbling_window", "sliding_window", "session_window",
])
def test_events_tier_dirty_events(spark, dirty_dir, key, ansi_mode):
    _skip_other_ansi_mode(key, ansi_mode)
    _assert_engines_agree(spark, dirty_dir, key)


def _plan_node_names(plan):
    """Class names of every physical node, descending through AQE's
    current plan and into each query stage."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        ch = plan.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    return [name] + [n for k in kids for n in _plan_node_names(k)]


def test_codegen_canary(spark, sf_dir):
    """The test session runs with codegen off (conftest); get_spark's
    default sessions, check_oracle and the benchmark run with it on.
    This canary keeps a codegen'd path in tier-1: a relational
    aggregate and a dedup join that runs through spread_scan and
    barrier agree with DuckDB under whole-stage codegen with
    interpreted fallback."""
    keys = ("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
        df = entry_mod.queries()["pricing_summary"](spark, sf_dir)
        df.collect()
        assert "WholeStageCodegenExec" in _plan_node_names(
            df._jdf.queryExecution().executedPlan())
        for key in ("pricing_summary", "jaccard_join"):
            _assert_engines_agree(spark, sf_dir, key)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
