"""Each checker accepts the right result and rejects a perturbed one."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen


def write_tweets(path, tags_per_row, start_us=0, step_us=1_000_000):
    n = len(tags_per_row)
    pq.write_table(
        pa.table(
            {
                "tweet_id": pa.array(range(n), pa.int64()),
                "created_at": pa.array([start_us + i * step_us for i in range(n)], pa.timestamp("us", tz="UTC")),
                "hashtags": pa.array(tags_per_row, pa.list_(pa.string())),
            }
        ),
        path,
    )


def write_csv(out_dir, rows):
    out_dir.mkdir(parents=True)
    body = "hashtag,n\n" + "".join(f"{t},{n}\n" for t, n in rows)
    (out_dir / "part-00000-x.csv").write_text(body)


def test_hours_top_k_breaks_ties_by_hashtag_per_file(tmp_path):
    f, g = tmp_path / "h.parquet", tmp_path / "i.parquet"
    write_tweets(f, [["b", "a"], ["c"], ["a", "b", "c"], [], ["z"]])
    write_tweets(g, [["z"], ["z", "y"]])
    got = checks.hours_top_k(checks.duckdb_conn(), [str(f), str(g)], k=3)
    assert got == {str(f): [("a", 2), ("b", 2), ("c", 2)], str(g): [("z", 2), ("y", 1)]}


def test_hourly_checker_rejects_perturbed_top10(tmp_path):
    f = tmp_path / "h.parquet"
    rng = np.random.default_rng(0)
    tags = [[f"t{int(x)}" for x in rng.zipf(1.5, size=3) if x < 40] for _ in range(500)]
    write_tweets(f, tags)
    want = checks.hours_top_k(checks.duckdb_conn(), [str(f)])[str(f)]
    write_csv(tmp_path / "good", want)
    assert checks.compare_ranked(checks.read_csv_top_k(str(tmp_path / "good")), want).ok
    bumped = [(want[0][0], want[0][1] + 1)] + want[1:]
    write_csv(tmp_path / "bad", bumped)
    v = checks.compare_ranked(checks.read_csv_top_k(str(tmp_path / "bad")), want)
    assert not v.ok and v.matched == len(want) - 1
    assert not checks.compare_ranked(want[::-1], want).ok


def test_window_checker_rejects_wrong_and_missing_windows(tmp_path):
    files = []
    for i in range(4):  # 4 files x 30 s of events -> two 1-minute windows
        f = tmp_path / f"f{i}.parquet"
        write_tweets(f, [["x", "y"], ["x"], ["z"]] * 10, start_us=i * 30_000_000)
        files.append(str(f))
    con = checks.duckdb_conn()
    want = checks.window_top_k(con, files, 60)
    assert sorted(want) == [0, 60]
    v, bad = checks.compare_windows(want, want, closed_before=120, window_s=60)
    assert v.ok and not bad
    wrong = {0: [("x", 1)] + want[0][1:], 60: want[60]}
    v, bad = checks.compare_windows(wrong, want, closed_before=120, window_s=60)
    assert not v.ok and bad == {0}
    v, bad = checks.compare_windows({0: want[0]}, want, closed_before=120, window_s=60)
    assert not v.ok and bad == {60}
    # a window still open may be absent
    v, bad = checks.compare_windows({0: want[0]}, want, closed_before=100, window_s=60)
    assert v.ok


def knn_rows(index, queries, ids, k):
    truth = checks.exact_knn(index, queries, k)
    rows = []
    for j, qid in enumerate(ids):
        q = queries[j].astype(np.float64)
        for r, nid in enumerate(truth[j], start=1):
            v = index[nid].astype(np.float64)
            sim = round(float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), 6)
            rows.append((qid, int(nid), sim, r))
    return rows


def test_knn_checker_scores_exact_answer_and_rejects_perturbations():
    index, queries = gen.embeddings(1, 300, 4)
    ids = [100, 101, 102, 103]
    rows = knn_rows(index, queries, ids, 10)
    v = checks.check_knn_batch(rows, index, queries, ids, 10)
    assert v.ok and v.matched == v.expected == 40

    far = int(checks.exact_knn(index, -queries[:1], 1)[0, 0])  # an id far from query 0
    swapped = [(q, far, s, r) if (q, r) == (100, 3) else (q, n, s, r) for q, n, s, r in rows]
    v = checks.check_knn_batch(swapped, index, queries, ids, 10)
    assert not v.ok and v.matched == 39  # its stated similarity no longer matches

    nudged = [(q, n, s + 1e-3, r) if (q, r) == (101, 1) else (q, n, s, r) for q, n, s, r in rows]
    assert not checks.check_knn_batch(nudged, index, queries, ids, 10).ok
    assert not checks.check_knn_batch(rows[:-1], index, queries, ids, 10).ok


def test_dedup_checker_rejects_lost_and_spurious_pairs():
    ids = list(range(10))
    planted = [[1, 2], [3, 4, 5]]
    comps = [(1, 1), (2, 1), (3, 3), (4, 3), (5, 3)]
    kept = [0, 1, 3, 6, 7, 8, 9]
    v = checks.check_dedup(ids, kept, comps, planted)
    assert v.ok and v.matched == v.expected == v.returned == 4

    lost = [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5)]  # 5 split off
    v = checks.check_dedup(ids, kept + [5], lost, planted)
    assert not v.ok and v.matched < v.expected

    merged = comps + [(0, 1)]  # doc 0 wrongly joins group 1
    v = checks.check_dedup(ids, [d for d in kept if d != 0], merged, planted)
    assert not v.ok and v.matched < v.returned

    assert not checks.check_dedup(ids, kept + [2], comps, planted).ok
