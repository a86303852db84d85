"""Unit tests: reference query on a tweets-shaped table + operator edges."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.dedup import (
    simhash64,
    simhash_near_pairs,
)
from tweets_spark_top_10_spark.functions.text import (
    fingerprint,
    language_id,
    ngrams,
    quality_score,
    shingles,
    stopword_ratio,
    tokenize,
)
from tweets_spark_top_10_spark.operators.explode_count import explode_count
from tweets_spark_top_10_spark.operators.topk import top_k, top_k_per_group


def _tweets(spark):
    """The reference-shaped fixture (FIXTURES.md §A): timestamp +
    hashtags array, null/empty arrays included."""
    rows = [
        (1, ["spark", "data"]),
        (2, ["spark"]),
        (3, []),
        (4, None),
        (5, ["data", "spark", "ml"]),
        (6, ["ml"]),
    ]
    return spark.createDataFrame(rows, "id: long, hashtags: array<string>")


def test_reference_query_golden(spark):
    """The §2.1 reference query (App.java:92-134) with deterministic
    tie-break: explode → count → top-10."""
    tweets = _tweets(spark)
    counted = explode_count(tweets, "hashtags", out_key="hashtag", out_count="NumberOfHashtags")
    result = top_k(counted, [F.desc("NumberOfHashtags"), F.asc("hashtag")], k=10)
    got = [(r.hashtag, r.NumberOfHashtags) for r in result.collect()]
    # null/empty arrays contribute nothing (explode drops them) — the
    # reference's semantics for hashtag-less tweets.
    assert got == [("spark", 3), ("data", 2), ("ml", 2)]


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 20.0), (1, "c", 5.0), (2, "d", 1.0)],
        "g: long, item: string, v: double",
    )
    out = top_k_per_group(df, ["g"], [F.desc("v"), F.asc("item")], k=2)
    got = sorted((r.g, r.item) for r in out.collect())
    assert got == [(1, "a"), (1, "b"), (2, "d")]


def test_tokenize_drops_empties(spark):
    df = spark.createDataFrame([("  a  b ",), ("",), (None,)], "t: string")
    out = df.select(tokenize(F.col("t")).alias("toks")).collect()
    assert out[0].toks == ["a", "b"]
    assert out[1].toks == []
    assert out[2].toks is None


def test_ngrams_short_docs(spark):
    df = spark.createDataFrame([("a b c",), ("a",), ("",)], "t: string")
    out = df.select(ngrams(F.col("t"), 2).alias("g")).collect()
    assert out[0].g == ["a b", "b c"]
    assert out[1].g == []
    assert out[2].g == []


# The tokenize rule (see tests/test_sketch_invariants._py_shingles): split
# on ASCII whitespace, drop empties, join each n-token window with a space.
_TOKEN_SPLIT = re.compile(r"\s+", re.ASCII)

_EDGE_TEXTS = [
    None,
    "",
    " \t\n\r\x0b\x0c ",
    "one",
    "one two",
    "\t\n lead \r\x0b\x0cand  trail\x0c\n\r\t ",
    "a\tb\nc\rd\x0be\x0cf g  h   i    j",
    "x y x y x y x y x y x",
    "no\u00a0break space\u2003em\u00a0\u2003gap here",
    "中文 分词 测试 日本語のテキスト 한국어",
    "emoji \U0001F600 \U0001F600 test \U0001F600 go",
    "\U0001F600\U0001F600 \U0001D54F\U0001F600 a\U0001D54F \U0001F600 \U0001D54F",
]


def _py_ngrams(text, n):
    if text is None:
        return None
    toks = [t for t in _TOKEN_SPLIT.split(text) if t != ""]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def test_ngrams_and_shingles_match_python_token_rule(spark):
    """The one-regex n-gram kernel against the pure-Python token rule on
    every whitespace, Unicode and surrogate-pair edge: grams must be
    byte-identical, in order, and ``shingles`` their first-seen distinct
    list."""
    ns = (1, 2, 3, 5, 8)
    df = spark.createDataFrame(list(enumerate(_EDGE_TEXTS)), "i int, t string")
    cols = [ngrams(F.col("t"), n).alias(f"g{n}") for n in ns]
    cols += [shingles(F.col("t"), n).alias(f"s{n}") for n in ns]
    rows = df.select("i", *cols).orderBy("i").collect()
    for r in rows:
        text = _EDGE_TEXTS[r.i]
        for n in ns:
            want = _py_ngrams(text, n)
            assert r[f"g{n}"] == want, (text, n)
            assert r[f"s{n}"] == (
                None if want is None else list(dict.fromkeys(want))
            ), (text, n)
    with pytest.raises(ValueError):
        ngrams(F.col("t"), 0)


def test_lsh_exact_rerank_matches_python_set_jaccard(spark):
    """``lsh_exact_rerank`` against a pure-Python set Jaccard over
    :func:`_py_ngrams` for every pair of the edge texts (plus a near-dup
    pair).  Texts with fewer than n tokens and the NULL text get no
    ``shingle_table`` row and so no output pair; passing ``counts=``
    changes nothing, because the array sizes are the denominators."""
    from tweets_spark_top_10_spark.functions.dedup import (
        lsh_exact_rerank,
        minhash_signatures,
        shingle_table,
    )

    n = 3
    texts = _EDGE_TEXTS + [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox leaps over the lazy dog",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sets = {i: set(_py_ngrams(t, n) or []) for i, t in enumerate(texts)}
    with_sh = {i for i, s in sets.items() if s}
    sh = shingle_table(docs, n=n)
    ids_out = [r.doc_id for r in sh.collect()]
    assert sorted(ids_out) == sorted(with_sh)
    assert {texts.index(None), texts.index("one two")}.isdisjoint(ids_out)

    ids = range(len(texts))
    pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
    )
    want = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a in with_sh
        for b in with_sh
        if a < b
    }
    counts = minhash_signatures(docs, n=n, with_count=True).select("doc_id", "n_sh")
    outs = [
        lsh_exact_rerank(docs, pairs, n=n, threshold=0.0, shingles=sh),
        lsh_exact_rerank(docs, pairs, n=n, threshold=0.0, counts=counts),
    ]
    got = [{(r.id_a, r.id_b): r.jaccard for r in o.collect()} for o in outs]
    assert got[0] == got[1]
    assert got[0].keys() == want.keys()
    for k, j in want.items():
        assert abs(got[0][k] - j) <= 5e-7, (k, got[0][k], j)
    assert 0.0 < want[(len(texts) - 2, len(texts) - 1)] < 1.0


def test_minhash_signatures_golden(spark):
    """Pinned ``minhash_signatures(with_count=True)`` values: banding
    signatures stay byte-identical, so any change to the shingle
    strings or to the hash family has to be deliberate."""
    from tweets_spark_top_10_spark.functions.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog the quick brown fox"),
            (2, "  the quick\tbrown fox\n\x0b\njumps over the\u00a0lazy cat\r\n"),
            (3, "emoji \U0001F600 \U0001F600 test \U0001F600 go 中文 "
                "\U0001D54F\U0001F600 x"),
        ],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs, with_count=True).orderBy("doc_id")
    got = [tuple(r) for r in sigs.collect()]
    assert got == [
        (1, -7091059247639022479, -6736894140626584498, -7668838801573006933,
         -8913829193979565694, -6894973831385508883, -8782049980855672681,
         -8002430306350003406, -7820744106168624891, 9),
        (2, -7265585055556345512, -6736894140626584498, -8761402319039005057,
         -2542202827347916924, -6894973831385508883, -7940015800785298728,
         -7725107020461618285, -7820744106168624891, 6),
        (3, -9149484169088811006, -8088727964717308438, -6618152480376341058,
         -8531512399778751805, -5720326381060269854, -5223154599885398209,
         -7875880628167040713, -2572282777397889786, 7),
    ]


def test_stopword_ratio_bounds(spark):
    df = spark.createDataFrame([("the a of x",), ("xyz qrs",), ("",)], "t: string")
    out = df.select(stopword_ratio(tokenize(F.col("t"))).alias("r")).collect()
    assert abs(out[0].r - 0.75) < 1e-9
    assert out[1].r == 0.0
    assert out[2].r == 0.0


def test_quality_score_range(spark):
    df = spark.createDataFrame(
        [("a reasonable document with enough words to pass the length gate ok",),
         ("!!! ??? ###",), ("",)],
        "t: string",
    )
    out = df.select(quality_score(F.col("t"), tokenize(F.col("t"))).alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in out)
    assert out[0].q > out[1].q


def test_language_id_picks_matching_lang(spark):
    df = spark.createDataFrame(
        [("the cat is on the mat",), ("le chat est dans la maison pour un",),
         ("el perro es un animal para la casa",), ("zzz qqq",)],
        "t: string",
    )
    out = df.select(language_id(tokenize(F.col("t"))).alias("l")).collect()
    assert [r.l for r in out] == ["en", "fr", "es", "und"]


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",), ("different",)], "t: string"
    )
    fps = [r.fp for r in df.select(fingerprint(F.col("t")).alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]
    assert len(fps[0]) == 16


def test_simhash_near_duplicates(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely unrelated text about spark query engines"),
        ],
        "doc_id: long, text: string",
    )
    sh = simhash64(df)
    vals = {r.doc_id: r.simhash for r in sh.collect()}
    assert vals[1] != vals[3]
    pairs = simhash_near_pairs(sh, max_hamming=12).collect()
    pairset = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in pairset
    assert (1, 3) not in pairset


def test_minhash_band_recall_is_full(spark, sf_dir):
    """The hand-rolled banding (the registered catalog path) must retain
    EVERY exact-Jaccard>=0.5 pair — it backs a full value oracle, so a
    single dropped pair is a driver mismatch.  8 OR-ed tables give miss
    probability (1-s)^8 per pair; the fixed seed makes the achieved
    full recall deterministic per fixture."""
    from tweets_spark_top_10_spark.functions.dedup import (
        minhash_band_pairs,
        ngram_jaccard_pairs,
    )
    from tweets_spark_top_10_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "fixture has no high-similarity pairs"
    cand = {(r.id_a, r.id_b) for r in minhash_band_pairs(docs).collect()}
    missed = exact - cand
    assert not missed, f"banding dropped true pairs: {sorted(missed)[:5]}"


def test_collapse_exact_dups_pair_list_is_exact(spark):
    """The collapse→band→rerank→expand pipeline must emit EXACTLY the
    true all-pairs Jaccard>=0.5 set of the UNcollapsed corpus — the
    contract that keeps minhash_lsh_candidates' full value oracle valid.

    Handmade corpus exercising every expansion branch:
    - group X: "alpha beta gamma delta epsilon" × 4 copies (within-group
      pairs at jaccard 1.0);
    - group Y: near-dup of X's text (one token changed) × 3 copies
      (cross-group pairs: every (x, y) member pair at the REP pair's
      jaccard);
    - a shingle-less short doc ("hi there": 2 tokens, no 3-gram) × 3
      copies — must produce NO pairs at all (the rep_sh_ids gate);
    - unique singleton docs as background noise.
    """
    from tweets_spark_top_10_spark.functions.dedup import (
        collapse_exact_dups,
        expand_rep_pairs,
        lsh_exact_rerank,
        minhash_band_pairs,
        ngram_jaccard_pairs,
        shingle_table,
    )

    tx = "alpha beta gamma delta epsilon zeta eta theta"
    ty = "alpha beta gamma delta epsilon zeta eta iota"
    rows = (
        [(i, tx) for i in range(4)]
        + [(10 + i, ty) for i in range(3)]
        + [(20 + i, "hi there") for i in range(3)]
        + [(30, "the quick brown fox jumps over the lazy dog"),
           (31, "entirely different words compose this unique sentence here")]
    )
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    truth = {
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert truth, "corpus must contain true pairs"

    reps, members = collapse_exact_dups(docs, "text", "doc_id")
    assert reps.count() == 5  # distinct texts, not 12 docs
    sh = shingle_table(reps, "text", "doc_id", n=3)
    cands = minhash_band_pairs(reps, "text", "doc_id", n=3, shingles=sh)
    # Collapse efficiency: band candidates are REP-level — one pair
    # (X's rep, Y's rep), never the 4×3 + C(4,2) + C(3,2) doc pairs.
    assert cands.count() == 1
    rep_pairs = lsh_exact_rerank(
        reps, cands, "text", "doc_id", n=3, threshold=0.5, shingles=sh
    )
    out = {
        (r.id_a, r.id_b, r.jaccard)
        for r in expand_rep_pairs(
            rep_pairs, members, sh.select("doc_id"), "doc_id"
        ).collect()
    }
    assert out == truth
    # The shingle-less dup group contributed nothing.
    assert not any(a >= 20 and a < 30 or 20 <= b < 30 for a, b, _ in out)


def test_collapse_exact_dups_band_work_constant_in_group_size(spark):
    """Replicating one document k× must not change the rep-level band
    candidate count at all — the quadratic k²/2-per-table band bucket
    the collapse exists to remove."""
    from tweets_spark_top_10_spark.functions.dedup import (
        collapse_exact_dups,
        minhash_band_pairs,
    )

    base = [
        (i, f"unique document number {i} with filler tokens {i * 7} {i * 13}")
        for i in range(30)
    ]
    hot = "boilerplate terms of service text repeated across the mirror sites"
    one = spark.createDataFrame(
        base + [(100, hot)], "doc_id: long, text: string"
    )
    many = spark.createDataFrame(
        base + [(100 + i, hot) for i in range(200)], "doc_id: long, text: string"
    )
    reps_one, _ = collapse_exact_dups(one, "text", "doc_id")
    reps_many, members_many = collapse_exact_dups(many, "text", "doc_id")
    assert reps_one.count() == reps_many.count() == 31
    c_one = minhash_band_pairs(reps_one, "text", "doc_id").count()
    c_many = minhash_band_pairs(reps_many, "text", "doc_id").count()
    assert c_one == c_many  # band work independent of dup-group size
    # ...while the members mapping still owns the full group.
    grp = members_many.filter("rep_id = 100")
    assert grp.count() == 200


def test_resample_locf_fills_gaps_and_guards_spans(spark):
    """Handmade series: key A observes hours 0,1,3 (hour 2 is a gap and
    must carry hour 1's value), key B observes a single hour (no gaps).
    The first bucket per key is never a gap; an absurd span at a tiny
    interval trips the sequence-bomb guard loudly."""
    import datetime

    import pytest
    from pyspark.sql import functions as F

    from tweets_spark_top_10_spark.operators.resample import resample_locf

    t = datetime.datetime(2024, 3, 1, 0, 30)
    h = datetime.timedelta(hours=1)
    rows = [
        ("A", t, 1.0), ("A", t, 3.0),            # hour 0: avg 2.0
        ("A", t + h, 5.0),                        # hour 1
        ("A", t + 3 * h, 9.0),                    # hour 3 (hour 2 gap)
        ("B", t + 2 * h, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    got = {
        (r["k"], r["bucket"].hour): (r["v"], r["is_gap"])
        for r in resample_locf(df, "k", "ts", "value").collect()
    }
    assert got == {
        ("A", 0): (2.0, False),
        ("A", 1): (5.0, False),
        ("A", 2): (5.0, True),   # LOCF from hour 1
        ("A", 3): (9.0, False),
        ("B", 2): (7.0, False),
    }

    wide = spark.createDataFrame(
        [("A", t, 1.0), ("A", t + datetime.timedelta(days=400), 2.0)],
        "k string, ts timestamp, value double",
    )
    with pytest.raises(Exception, match="spans more than"):
        resample_locf(
            wide, "k", "ts", "value", interval="1 minute",
            max_buckets_per_key=1000,
        ).collect()


def test_interval_overlap_join_exact_and_equi_planned(spark):
    """Bucketed overlap join: pairs spanning multiple common buckets
    appear ONCE (first-common-bucket claim), touching-at-endpoint
    counts (closed intervals), NULL bounds drop, disjoint-name
    validation fails loud, and the plan contains no nested-loop or
    cartesian join — the whole point of the bucketing."""
    import datetime

    import pytest
    from pyspark.sql import functions as F

    from tweets_spark_top_10_spark.operators.interval_join import (
        interval_overlap_join,
    )

    d = lambda s: datetime.datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [
            (1, d("2024-01-01"), d("2024-03-15")),  # spans several weekly buckets
            (2, d("2024-05-01"), d("2024-05-02")),
            (3, None, d("2024-06-01")),             # dropped
        ],
        "lid int, ls timestamp, le timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, d("2024-02-01"), d("2024-04-01")),  # overlaps lid=1 across many buckets
            (11, d("2024-03-15"), d("2024-03-20")),  # touches lid=1 endpoint exactly
            (12, d("2024-05-03"), d("2024-05-04")),  # disjoint from lid=2
        ],
        "rid int, rs timestamp, re timestamp",
    )
    got = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", bucket_seconds=7 * 86400
    ).select("lid", "rid").collect()
    assert sorted((r["lid"], r["rid"]) for r in got) == [(1, 10), (1, 11)]

    with pytest.raises(ValueError, match="disjoint"):
        interval_overlap_join(left, left, "ls", "le", "ls", "le")

    wide_right = spark.createDataFrame(
        [(20, d("2024-01-01"), d("2030-01-01"))], "rid int, rs timestamp, re timestamp"
    )
    with pytest.raises(Exception, match="spans more than"):
        interval_overlap_join(
            left, wide_right, "ls", "le", "rs", "re",
            bucket_seconds=3600, max_buckets_per_row=100,
        ).collect()

    plan = (
        interval_overlap_join(left, right, "ls", "le", "rs", "re")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_signature_with_count_matches_shingle_counts(spark, sf_dir):
    """``minhash_signatures(with_count=True)`` rides ``n_sh`` on the
    SAME aggregate (r16: it replaced the rerank's separate per-doc
    count pass) — its value must equal an independent count over the
    distinct shingle table, and the mh columns must be byte-identical
    to the with_count=False form."""
    from pyspark.sql import functions as F

    from tweets_spark_top_10_spark.functions.dedup import (
        minhash_signatures,
        shingle_table,
    )
    from tweets_spark_top_10_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    wide = minhash_signatures(docs, with_count=True)
    plain = minhash_signatures(docs)
    counts = shingle_table(docs).select(
        "doc_id", F.size("shingles").alias("n_ref")
    )
    joined = wide.join(counts, "doc_id", "full")
    assert (
        joined.filter(
            F.col("n_sh").isNull()
            | F.col("n_ref").isNull()
            | (F.col("n_sh") != F.col("n_ref"))
        ).count()
        == 0
    )
    assert (
        wide.drop("n_sh").exceptAll(plain).count() == 0
        and plain.exceptAll(wide.drop("n_sh")).count() == 0
    )
