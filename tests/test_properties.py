"""Property-based invariants (hypothesis) for the text/dedup kernels.

One Spark job per example is slow, so each property batches all its
hypothesis-generated documents into a single DataFrame and asserts the
invariant row-wise — ~1 job per property, not per example.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tweets_spark_top_10_spark.functions.dedup import content_hash
from tweets_spark_top_10_spark.functions.text import tokenize

# printable-ish text including whitespace runs and unicode
TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
    max_size=120,
)


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=60))
def test_tokenize_never_yields_empty_tokens(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    bad = (
        df.select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .filter((F.col("tok") == "") | F.col("tok").isNull())
        .count()
    )
    assert bad == 0


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=60))
def test_token_join_roundtrip_preserves_nonspace_content(spark, texts):
    """Concatenating tokens == original text with whitespace removed
    (whitespace-split must lose nothing but separators)."""
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        F.array_join(tokenize(F.col("text")), "").alias("joined"),
        F.regexp_replace("text", r"\s+", "").alias("stripped"),
    ).collect()
    for r in rows:
        assert r.joined == r.stripped


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=40))
def test_content_hash_stable_and_injective_on_sample(spark, texts):
    """Same text → same hash (determinism across two evaluations);
    hash length is constant."""
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    a = [r[0] for r in df.select(content_hash(F.col("text"))).collect()]
    b = [r[0] for r in df.select(content_hash(F.col("text"))).collect()]
    assert a == b
    assert all(len(h) == 32 for h in a)


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=40))
def test_normalize_text_idempotent_and_shape(spark, texts):
    """normalize(normalize(x)) == normalize(x); output never contains
    control chars, leading/trailing space, doubled spaces, or uppercase."""
    from tweets_spark_top_10_spark.functions.text import normalize_text

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        normalize_text(F.col("text")).alias("once"),
        normalize_text(normalize_text(F.col("text"))).alias("twice"),
    ).collect()
    for r in rows:
        assert r.once == r.twice
        assert r.once == r.once.strip()
        assert "  " not in r.once
        assert not any(ord(ch) < 0x20 or ord(ch) == 0x7F for ch in r.once)
        assert r.once == r.once.lower()


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=40))
def test_redact_pii_fixed_point_and_count_consistency(spark, texts):
    """After one redact pass nothing is left for a second pass to find
    (pii_count(redacted) == 0), and redact never raises on arbitrary
    unicode."""
    from tweets_spark_top_10_spark.functions.text import pii_count, redact_pii

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    leftover = (
        df.select(redact_pii("text").alias("clean"))
        .select(pii_count("clean").alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert leftover == 0


# ---- avro codec roundtrip (pure python, no Spark session needed) ----

_AVRO_SCHEMA = {
    "type": "record",
    "name": "R",
    "fields": [
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "b", "type": "bytes"},
        {"name": "ns", "type": ["null", "string"]},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "mp", "type": {"type": "map", "values": "long"}},
    ],
}

_records = st.lists(
    st.fixed_dictionaries(
        {
            "i": st.integers(-(2**31), 2**31 - 1),
            "l": st.integers(-(2**63), 2**63 - 1),
            "d": st.floats(allow_nan=False),
            "s": st.text(max_size=80),
            "b": st.binary(max_size=40),
            "ns": st.none() | st.text(max_size=20),
            "arr": st.lists(st.integers(-(2**63), 2**63 - 1), max_size=8),
            "mp": st.dictionaries(st.text(max_size=10), st.integers(-1000, 1000), max_size=5),
        }
    ),
    max_size=30,
)


@settings(max_examples=60, deadline=None)
@given(recs=_records, codec=st.sampled_from(["null", "deflate"]))
def test_avro_codec_roundtrip_property(recs, codec):
    """write_avro_file → parse_container is the identity on the
    supported type subset — the zigzag varints, block framing, codecs,
    unions, arrays and maps all survive arbitrary values (incl. full
    64-bit integer range and unicode)."""
    import os
    import tempfile

    from tweets_spark_top_10_spark.sources.avro_py import (
        parse_container,
        write_avro_file,
    )

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "f.avro")
        write_avro_file(p, _AVRO_SCHEMA, recs, codec=codec, records_per_block=7)
        with open(p, "rb") as fh:
            schema, it = parse_container(fh.read())
        got = list(it)
    assert schema == _AVRO_SCHEMA
    assert len(got) == len(recs)
    for want, have in zip(recs, got):
        assert have == want


_edge_lists = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=1,
    max_size=60,
)


def _check_cc_against_union_find(spark, edges, driver_cap):
    """connected_components == a trivial union-find written here (not
    the engine's helper) on an arbitrary graph, with the driver-finish
    threshold set to ``driver_cap``: every node must be labeled with
    the minimum id reachable from it."""
    from unittest import mock

    import tweets_spark_top_10_spark.functions.dedup as dd

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with mock.patch.object(dd, "_DRIVER_CC_MAX_EDGES", driver_cap):
        got = {
            r.node: r.component
            for r in dd.connected_components(df).collect()
        }
    assert got == want
    return dd._last_cc_rounds


@settings(max_examples=5, deadline=None)
@given(_edge_lists)
def test_connected_components_matches_union_find(spark, edges):
    """Driver-finish CC == a trivial union-find on arbitrary random
    graphs (self-loops, duplicates, disjoint bits).  Property-based
    gate: the oracle queries only cover near-dup-shaped graphs; this
    covers adversarial ones.  A graph this small takes the driver path
    (0 star rounds)."""
    import tweets_spark_top_10_spark.functions.dedup as dd

    cap = dd._DRIVER_CC_MAX_EDGES
    assert _check_cc_against_union_find(spark, edges, cap) == 0


@settings(max_examples=5, deadline=None)
@given(_edge_lists)
def test_connected_components_star_path_matches_union_find(spark, edges):
    """The same property with the driver finish disabled, so the
    Kiveris'14 large-star/small-star rounds label the graph."""
    assert _check_cc_against_union_find(spark, edges, 0) > 0


def test_srp_signatures_match_definition_at_nondefault_geometry(spark):
    """The SRP banding oracle pins the DEFAULT 8x8x64 geometry; the
    round-11 row-local rewrite bakes the geometry into generated SQL,
    so mis-indexed positions or bit weights at OTHER geometries would
    escape it.  Cross-check three non-default (n_tables, n_bits, dim)
    points against a brute-force Python evaluation of the definition:
    int8 maxabs quantization, md5-parity ±1 hyperplanes, integer dots,
    band = sum of 2^j over positive bits."""
    import math

    from tweets_spark_top_10_spark.functions.similarity import (
        _srp_sign_vectors,
        srp_signatures,
    )

    for n_tables, n_bits, dim in ((3, 4, 16), (2, 13, 8), (1, 8, 5)):
        rows = [
            (i, [math.sin(i * dim + p) for p in range(dim)])
            for i in range(12)
        ] + [(99, [0.0] * dim)]  # zero vector: filtered out
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            (r.vec_id, r.t): r.band
            for r in srp_signatures(
                df, "vec_id", "embedding", n_tables, n_bits, dim
            ).collect()
        }
        signs = _srp_sign_vectors(n_tables, n_bits, dim)
        want = {}
        for i, vec in rows[:-1]:
            mx = max(abs(x) for x in vec)
            codes = [math.floor(x * 127.0 / mx) for x in vec]
            for t in range(n_tables):
                band = 0
                for j in range(n_bits):
                    dot = sum(c * s for c, s in zip(codes, signs[t][j]))
                    if dot > 0:
                        band |= 1 << j
                want[(i, t)] = band
        assert got == want, (n_tables, n_bits, dim)


def test_srp_signatures_entry_guards(spark):
    """Round-12 ADVICE closures: (a) n_bits > 62 must raise at entry —
    the generated band SQL embeds the Python literal ``1 << j``, which
    overflows BIGINT at j=63 (the old ``shiftleft`` wrapped silently);
    (b) a vector whose length != dim must fail LOUDLY at execution —
    before the guard, a longer vector folded its extra positions into
    S_all (flipping bits vs the posexplode-era plan, which ignored
    p >= dim) and a shorter one nulled bits to 0."""
    import pytest

    from tweets_spark_top_10_spark.functions.similarity import (
        srp_signatures,
    )

    one = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="n_bits=63"):
        srp_signatures(one, "vec_id", "embedding", 1, 63, 2)

    mixed = spark.createDataFrame(
        [(1, [1.0] * 4), (2, [1.0] * 3), (3, [1.0] * 5)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="vector length != dim=4"):
        srp_signatures(mixed, "vec_id", "embedding", 2, 4, 4).collect()

    # boundary: n_bits=62 is legal (bit 61 is the top term, no overflow)
    two = spark.createDataFrame(
        [(1, [1.0, -2.0]), (2, [3.0, 0.5])],
        "vec_id long, embedding array<double>",
    )
    rows = srp_signatures(two, "vec_id", "embedding", 1, 62, 2).collect()
    assert len(rows) == 2
    assert all(0 <= r.band < (1 << 62) for r in rows)  # no sign wrap

    # zero and EMPTY vectors drop at the maxabs>0 filter BEFORE the
    # length guard — they cannot band; only nonzero wrong-length raises
    degenerate = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.0, 0.0]), (3, [])],
        "vec_id long, embedding array<double>",
    )
    out = srp_signatures(degenerate, "vec_id", "embedding", 2, 4, 2)
    assert sorted({r.vec_id for r in out.collect()}) == [1]
