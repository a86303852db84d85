"""Seeded generators: one seed, one set of inputs."""

import random
from itertools import combinations

import gen

PLAN = gen.StreamPlan(interval_s=0.05, rows_per_file=200, file_span_us=6_000_000)


def digests(seed):
    tweets = [t for _, t in gen.tweet_hours(seed, 1, 500)]
    shard = gen.corpus_shard(seed, 1, 300)
    index, queries = gen.embeddings(seed, 200, 32)
    files = gen.stream_files(seed, PLAN, 3)
    return {
        "tweets": gen.digest(*tweets),
        "corpus": gen.digest(shard.table, shard.groups),
        "embeddings": gen.digest(index, queries),
        "stream": gen.digest(*files),
    }


def test_same_seed_gives_identical_digest():
    assert digests(7) == digests(7)


def test_different_seed_changes_every_input():
    a, b = digests(7), digests(8)
    for name in a:
        assert a[name] != b[name], name


def shingles(text, n=3):
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def test_planted_groups_are_the_near_duplicates():
    shard = gen.corpus_shard(3, 0, 600)
    text = dict(zip(shard.table.column("doc_id").to_pylist(), shard.table.column("text").to_pylist()))
    sh = {d: shingles(t) for d, t in text.items()}
    planted = set()
    for g in shard.groups:
        assert len(g) >= 2
        planted.update(combinations(g, 2))
        # every copy or chain link clears the 0.5 threshold with room to spare
        for d in g:
            assert max(jaccard(sh[d], sh[e]) for e in g if e != d) > 0.8
    rng = random.Random(0)
    ids = sorted(text)
    for _ in range(2000):
        a, b = rng.sample(ids, 2)
        if (min(a, b), max(a, b)) not in planted:
            assert jaccard(sh[a], sh[b]) < 0.5
    assert len(ids) == 600


def test_tweet_hours_follow_the_hour_layout(tmp_path):
    hours = gen.write_tweet_hours(str(tmp_path), 1, 1, 50)
    assert len(hours) == 24
    assert (tmp_path / "year=2026" / "month=01" / "day=05" / "hour=07" / "part-00000.parquet").exists()


def test_viral_tag_is_the_most_common():
    (_, table), *_ = gen.tweet_hours(5, 1, 20_000)
    tags = [t for row in table.column("hashtags").to_pylist() for t in row]
    assert max(set(tags), key=tags.count) == gen.VIRAL_TAG
