"""Distributed BPE merge learning (functions/bpe.py).

Three gates, per the replay-oracle audit discipline (SURVEY §2.3):
the DuckDB oracle unrolls the same rounds in SQL, so the INDEPENDENT
gate here is a pure-Python reference BPE (dict + Counter, no Spark, no
SQL) that must reproduce the merge table exactly; a handmade corpus
pins the overlap semantics (leftmost non-overlapping = greedy BPE
pairing) and the tie-break; and the oracle-harness compare pins the
driver-canon dtype contract."""

from __future__ import annotations

import collections
import re

import duckdb
import pyarrow.parquet as pq


def _tokens(texts: list[str]) -> collections.Counter:
    # re.ASCII so \s matches exactly what the engine's Java regex and
    # the oracle's RE2 match — Python's default Unicode \s would also
    # split on U+00A0/U+2028 and desync the reference on such corpora
    return collections.Counter(
        tok for t in texts for tok in re.split(r"\s+", t, flags=re.ASCII) if tok
    )


def _merge_once(syms: tuple[str, ...], lhs: str, rhs: str) -> tuple[str, ...]:
    """Canonical Sennrich merge application: left-to-right
    NON-OVERLAPPING pairing over the symbol LIST — deliberately not a
    string replace, so this reference cannot share a string-encoding
    bug with the engine/oracle (the round-13 review found exactly such
    a shared under-merge in the original single-space encoding)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
            out.append(lhs + rhs)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _py_bpe(texts: list[str], merges: int) -> list[tuple[int, str, str, int]]:
    """Reference BPE over symbol lists (dict + Counter; no Spark, no
    SQL, no shared string encoding)."""
    words: dict[tuple[str, ...], int] = {
        tuple(w): c for w, c in _tokens(texts).items()
    }
    out = []
    for rank in range(1, merges + 1):
        pairs: collections.Counter = collections.Counter()
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (lhs, rhs), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((rank, lhs, rhs, cnt))
        merged: dict[tuple[str, ...], int] = {}
        for syms, c in words.items():
            k = _merge_once(syms, lhs, rhs)
            merged[k] = merged.get(k, 0) + c
        words = merged
    return out


def _py_bpe_batched(
    texts: list[str], rounds: int, batch: int, window_factor: int = 8
) -> list[tuple[int, str, str, int]]:
    """Reference for learn_from_words_batched: the same
    top-(window_factor*batch) candidate window and greedy
    symbol-disjoint selection, but over symbol LISTS with per-rule
    sequential ``_merge_once`` application — independent of the
    engine's composed string replace (their equality IS the
    disjointness-correctness claim)."""
    words: dict[tuple[str, ...], int] = {
        tuple(w): c for w, c in _tokens(texts).items()
    }
    out: list[tuple[int, str, str, int]] = []
    window = window_factor * batch
    for _ in range(rounds):
        pairs: collections.Counter = collections.Counter()
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        cand = sorted(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[:window]
        used: set[str] = set()
        chosen = []
        for (lhs, rhs), cnt in cand:
            if len(chosen) >= batch:
                break
            new = lhs + rhs
            if lhs in used or rhs in used or new in used:
                continue
            used.update((lhs, rhs, new))
            chosen.append((lhs, rhs, cnt))
        for lhs, rhs, cnt in chosen:
            out.append((len(out) + 1, lhs, rhs, cnt))
            merged: dict[tuple[str, ...], int] = {}
            for syms, c in words.items():
                k = _merge_once(syms, lhs, rhs)
                merged[k] = merged.get(k, 0) + c
            words = merged
    return out


def test_bpe_batched_matches_python_reference(spark, sf_dir):
    """Batched engine merge table == the list-based pure-Python twin,
    exactly — covers the window, the greedy symbol-disjoint selection,
    AND the composed-replace == sequential-apply equivalence."""
    from tweets_spark_top_10_spark.queries import QUERIES

    texts = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["text"]
    )["text"].to_pylist()
    expected = _py_bpe_batched(texts, rounds=2, batch=4)
    got = sorted(
        map(tuple, QUERIES["bpe_merge_table_batched"](spark, sf_dir).collect())
    )
    assert got == expected


def test_bpe_batched_deep_window_matches_python_reference(spark, sf_dir):
    """window_factor > 8 (the r15 production lever: deep windows reach
    rarer mutually-disjoint symbols, lifting adopted-rules-per-scan on
    Zipf tables) must stay exact-match against the list-based twin —
    counts exact, selection deterministic, composed replace ==
    sequential apply — at the deeper window too."""
    from tweets_spark_top_10_spark.functions.bpe import (
        learn_from_words_batched,
        word_frequency_table,
    )

    texts = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["text"]
    )["text"].to_pylist()
    expected = _py_bpe_batched(texts, rounds=3, batch=8, window_factor=64)
    docs = spark.createDataFrame([(t,) for t in texts], ["text"])
    got, _ = learn_from_words_batched(
        word_frequency_table(docs), rounds=3, batch=8, window_factor=64
    )
    assert got == expected
    # the deep window must adopt at least as many rules per scan budget
    shallow = _py_bpe_batched(texts, rounds=3, batch=8, window_factor=8)
    assert len(got) >= len(shallow)

    import pytest

    with pytest.raises(ValueError, match="window_factor"):
        learn_from_words_batched(
            word_frequency_table(docs), 1, batch=2, window_factor=0
        )


def test_bpe_batched_batch1_equals_sequential(spark):
    from tweets_spark_top_10_spark.functions.bpe import (
        learn_from_words,
        learn_from_words_batched,
        word_frequency_table,
    )

    docs = spark.createDataFrame(
        [("the cat sat on the mat the cat",), ("a banana bandana",)],
        ["text"],
    )
    words = word_frequency_table(docs)
    seq, _ = learn_from_words(words, 6)
    bat, _ = learn_from_words_batched(words, rounds=6, batch=1)
    assert bat == seq


def test_bpe_batched_skips_symbol_sharing_pairs(spark):
    """The compatibility rule in isolation: with pair counts
    (a,b)=10 > (b,c)=9 > (d,e)=8, a batch of 2 must adopt (a,b) and
    (d,e) — (b,c) shares 'b' with an already-adopted rule and waits."""
    import pytest

    from tweets_spark_top_10_spark.functions.bpe import (
        learn_from_words_batched,
        word_frequency_table,
    )

    rows = [("ab " * 10).strip(), ("bc " * 9).strip(), ("de " * 8).strip()]
    docs = spark.createDataFrame([(t,) for t in rows], ["text"])
    learned, _ = learn_from_words_batched(
        word_frequency_table(docs), rounds=1, batch=2
    )
    assert [(l, r) for _, l, r, _ in learned] == [("a", "b"), ("d", "e")]
    assert [c for _, _, _, c in learned] == [10, 8]

    with pytest.raises(ValueError, match="rounds"):
        learn_from_words_batched(word_frequency_table(docs), rounds=0)
    with pytest.raises(ValueError, match="batch"):
        learn_from_words_batched(word_frequency_table(docs), 1, batch=0)


def test_bpe_encode_arrow_twin_matches_chained_replace(spark, sf_dir):
    """The production encoder (segment_words_arrow — Arrow mapInPandas,
    lowest-rank-first per-word merging for 32k-rule tables where a
    chained-replace expression would break Catalyst) must produce the
    EXACT segmentation of the chained replace (rank-order application),
    at the catalog's 8 sequential rules AND at a deeper batched rule
    set — the two paths implement the same fixpoint by different
    algorithms, which is the equivalence claim."""
    from tweets_spark_top_10_spark.functions.bpe import (
        learn_from_words,
        learn_from_words_batched,
        segment_words,
        segment_words_arrow,
        word_frequency_table,
    )
    from tweets_spark_top_10_spark.sources.registry import load_table

    words = word_frequency_table(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=True)
    for rules, _label in (
        (learn_from_words(words, 8)[0], "seq8"),
        (
            learn_from_words_batched(
                words, rounds=3, batch=8, window_factor=64
            )[0],
            "batched",
        ),
    ):
        chained = sorted(
            map(tuple, segment_words(words, rules).collect())
        )
        arrow = sorted(
            map(tuple, segment_words_arrow(words, rules).collect())
        )
        assert arrow == chained, (_label, len(rules))


def test_bpe_encode_serves_from_provided_rules(spark, sf_dir):
    """Tokenizer serving from a provided merge table: learn the rules
    with batch bpe_learn_merges, collect them to the driver, and encode
    with them — identical output to the inline learn-then-encode path
    (the serving-from-artifact == inline discipline every other index
    family has)."""
    from tweets_spark_top_10_spark.functions.bpe import (
        bpe_encode_docs,
        bpe_learn_merges,
    )
    from tweets_spark_top_10_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    stored = [
        (r.merge_rank, r.lhs, r.rhs, r.pair_count)
        for r in bpe_learn_merges(docs, merges=8)
        .orderBy("merge_rank")
        .collect()
    ]
    assert stored  # the corpus learns a non-empty table
    served = sorted(
        map(tuple, bpe_encode_docs(docs, merge_rules=stored).collect())
    )
    inline = sorted(map(tuple, bpe_encode_docs(docs, merges=8).collect()))
    assert served == inline


def test_bpe_matches_python_reference(spark, sf_dir):
    """Engine merge table == the pure-Python reference, exactly —
    the independent gate the unrolled-SQL oracle can't provide."""
    from tweets_spark_top_10_spark.queries import QUERIES

    texts = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["text"]
    )["text"].to_pylist()
    expected = _py_bpe(texts, 8)
    got = sorted(
        map(tuple, QUERIES["bpe_merge_table"](spark, sf_dir).collect())
    )
    assert got == expected


def test_bpe_handmade_overlaps_and_ties(spark):
    """Pins the two semantics that make or break cross-engine parity:

    - CANONICAL non-overlapping pairing on runs: 'aaa' counts (a,a)
      twice but merging yields '(aa) a', never 'a (aa)'; and 'aaaa'
      merges BOTH pairs in one round -> '(aa)(aa)' (the single-space
      string encoding under-merged this to '(aa) a a' — the round-13
      review finding the double-space encoding fixes);
    - ties break on (count DESC, lhs ASC, rhs ASC).
    """
    from tweets_spark_top_10_spark.functions.bpe import bpe_learn_merges

    # 'aaab' x3: pairs (a,a)x2*3=6, (a,b)x3 -> merge1 (a,a) cnt 6.
    # After: ' aa a b ': pairs (aa,a)x3, (a,b)x3 -> TIE at 3 ->
    # lhs 'a' < 'aa' so merge2 is (a,b) cnt 3.
    # After: ' aa a ab '? no — replace(' a b ',' ab ') on ' aa a b '
    # gives ' aa ab ': pairs (aa,ab)x3 -> merge3 (aa,ab) cnt 3.
    docs = spark.createDataFrame([("aaab aaab",), ("aaab",)], ["text"])
    got = [tuple(r) for r in bpe_learn_merges(docs, merges=4).collect()]
    assert got == [
        (1, "a", "a", 6),
        (2, "a", "b", 3),
        (3, "aa", "ab", 3),
    ], got  # round 4: no pairs left -> early stop at 3 rows

    assert got == [(r, lh, rh, c) for r, lh, rh, c in _py_bpe(
        ["aaab aaab", "aaab"], 4
    )]

    # the run corpus: 'aaaa' x2. Round 1: (a,a) appears 3x per word ->
    # cnt 6; canonical application merges BOTH pairs: [aa, aa].
    # Round 2: (aa,aa) cnt 2. The buggy single-space encoding left
    # [aa, a, a] after round 1 and learned (a,a) again / (aa,a) instead.
    runs = spark.createDataFrame([("aaaa",), ("aaaa",)], ["text"])
    got_runs = [tuple(r) for r in bpe_learn_merges(runs, merges=2).collect()]
    assert got_runs == [(1, "a", "a", 6), (2, "aa", "aa", 2)], got_runs
    assert got_runs == [
        (r, lh, rh, c) for r, lh, rh, c in _py_bpe(["aaaa", "aaaa"], 2)
    ]


def _py_apply_merges(texts, merge_rules):
    """Segmented word-frequency dict after applying merges in order
    (symbol lists, canonical non-overlapping pairing)."""
    words: dict[tuple[str, ...], int] = {
        tuple(w): c for w, c in _tokens(texts).items()
    }
    for lhs, rhs in merge_rules:
        merged: dict[tuple[str, ...], int] = {}
        for syms, c in words.items():
            k = _merge_once(syms, lhs, rhs)
            merged[k] = merged.get(k, 0) + c
        words = merged
    return words


def test_bpe_subword_vocab_matches_python_reference(spark, sf_dir):
    """Encode half: top-20 subword counts after the learned merges ==
    the pure-Python segmentation, exactly (count DESC, subword ASC)."""
    from tweets_spark_top_10_spark.queries import QUERIES

    texts = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["text"]
    )["text"].to_pylist()
    rules = [(lh, rh) for _, lh, rh, _ in _py_bpe(texts, 8)]
    counts: collections.Counter = collections.Counter()
    for syms, c in _py_apply_merges(texts, rules).items():
        for sym in syms:
            counts[sym] += c
    expected = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r.subword, r.n)
        for r in QUERIES["bpe_subword_vocab_top20"](spark, sf_dir).collect()
    ]
    assert sorted(got, key=lambda kv: (-kv[1], kv[0])) == expected
    assert len(got) == 20


def test_bpe_oracle_harness_compare(spark, sf_dir):
    """Full driver-style compare (row count + dtype-strict canon hash)
    against the unrolled MATERIALIZED-CTE oracles, both queries."""
    from tests.oracle_harness import compare
    from tweets_spark_top_10_spark.queries import ORACLE, QUERIES

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    for name in ("bpe_merge_table", "bpe_subword_vocab_top20"):
        res = compare(QUERIES[name](spark, sf_dir), con, ORACLE[name])
        assert res.ok, f"{name}: {res.detail}"


def test_bpe_rejects_bad_merge_count(spark):
    import pytest

    from tweets_spark_top_10_spark.functions.bpe import bpe_learn_merges

    docs = spark.createDataFrame([("x",)], ["text"])
    with pytest.raises(ValueError, match="merges"):
        bpe_learn_merges(docs, merges=0)


def test_bpe_chained_replace_at_arrow_threshold_depth(spark):
    """The chained-replace path serves every rule list up to
    ``functions/bpe._ARROW_THRESHOLD`` (256), but equivalence and Catalyst
    depth were only exercised at 8 sequential / ~24 batched rules (r15
    advisor finding). Pin a 250-rule chain — just under the threshold —
    producing a 250-deep nested F.replace tree: it must analyze,
    execute, and match segment_words_arrow exactly.  The rule list is a
    synthetic progressive chain (rank k merges the length-k prefix with
    the next symbol), which satisfies segment_words' fixpoint
    precondition: no rule references a LATER rule's output."""
    from tweets_spark_top_10_spark.functions.bpe import (
        segment_words,
        segment_words_arrow,
    )

    n = 250
    syms = [f"s{i}" for i in range(n + 1)]
    rules = []
    prefix = syms[0]
    for k in range(1, n + 1):
        rules.append((k, prefix, syms[k], 1))
        prefix += syms[k]
    words = spark.createDataFrame(
        [
            (" " + "  ".join(syms) + " ", 3),          # full chain: 1 symbol out
            (" s0  s1  s2  zz " , 2),                  # stops at rank 3
            (" zz  s5  s6 ", 1),                       # no rule applies
            (" s0  s1  s0  s1 ", 1),                   # rank-1 twice, rank 2 once
        ],
        ["s", "freq"],
    )
    chained = sorted(map(tuple, segment_words(words, rules).collect()))
    arrow = sorted(map(tuple, segment_words_arrow(words, rules).collect()))
    assert arrow == chained
    assert (" " + prefix + " ", 3) in chained          # full chain collapsed
    assert (" s0s1s2  zz ", 2) in chained
    assert (" zz  s5  s6 ", 1) in chained


def test_bpe_production_fixture_integrity_and_fixpoint(spark):
    """The committed 32k-merge production fixture
    (fixtures/bpe_merges_32k/merges.parquet, built once by
    tools/bpe_build_index.py on the deterministic Zipf-10^5
    vocabulary): ranks are a contiguous 1..32000 prefix of a valid
    merge sequence, and serving the training vocabulary's head through
    the Arrow encoder reaches the BPE fixpoint — no adjacent symbol
    pair in any encoded word is still a rule — while concatenation
    recovers the original word (lossless segmentation)."""
    import os

    from tests.datagen import zipf_words
    from tweets_spark_top_10_spark.functions.bpe import (
        read_merge_rules_parquet,
        segment_words_arrow,
    )

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "bpe_merges_32k",
        "merges.parquet",
    )
    rules = read_merge_rules_parquet(spark, path)
    assert len(rules) == 32_000
    assert [r[0] for r in rules] == list(range(1, 32_001))
    rule_set = {(l, r) for _, l, r, _ in rules}

    # the head of the training vocabulary: zipf_words is deterministic
    # (md5-derived), so rank 1..2000 here are the same word strings the
    # fixture was trained on
    words = zipf_words(spark, 2_000).localCheckpoint(eager=True)
    originals = {r.s: r.s.replace(" ", "") for r in words.collect()}
    for row in segment_words_arrow(words, rules).collect():
        syms = row.s.strip(" ").split("  ")
        for a, b in zip(syms, syms[1:]):
            assert (a, b) not in rule_set, (a, b)
        assert "".join(syms) in set(originals.values())


def test_bpe_fixture_encode_throughput_floor(spark):
    """Serve-side floor at production depth (r15 verdict item 4): the
    full 10^5-word dictionary through segment_words_arrow under the
    32k-rule fixture.  Measured 37k words/s on this box (BASELINE.md
    round-16); the floor is 7x under that so only a structural
    regression trips it (per-occurrence instead of per-distinct-word
    work, a quadratic merge loop, rules re-collected per batch), never
    box weather."""
    import os
    import time

    from tests.datagen import zipf_words
    from tweets_spark_top_10_spark.functions.bpe import (
        read_merge_rules_parquet,
        segment_words_arrow,
    )

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "bpe_merges_32k",
        "merges.parquet",
    )
    rules = read_merge_rules_parquet(spark, path)
    words = zipf_words(spark, 100_000).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    n = segment_words_arrow(words, rules).count()
    wall = time.perf_counter() - t0
    assert n == 100_000
    assert n / wall >= 5_000, f"{n / wall:.0f} words/s under the 5k floor"
