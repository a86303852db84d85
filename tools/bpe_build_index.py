"""Build and persist the PRODUCTION BPE merge fixture (r15 verdict
item 4: the measured 32k-merge table existed only inside the probe run;
the serving story needs the artifact itself, offline/online split like
the PQ/IVF ``ensure_*`` indexes).

Trains ``learn_from_words_batched`` on the deterministic Zipf-10^5
pseudo-word vocabulary (``tests.datagen.zipf_words`` — the
documents test corpus has a 31-word vocabulary, far too small for a
production-depth table), truncates to exactly ``--merges`` ranks (a
rank-prefix of a merge sequence is itself a valid merge table: encoding
applies rules in rank order and no rule references a later rule's
output), and publishes ONE parquet file under ``fixtures/`` so the
artifact is committed, reviewable, and loadable without a 7-minute
rebuild.  Serving reads it back through
``functions/bpe.read_merge_rules_parquet`` and passes the rule list to
``bpe_encode_docs(merge_rules=...)`` / ``segment_words_arrow`` — the
same rules-provided path the streaming maintainer uses.

Also measures the serve side on the spot: encode the full 10^5-word
dictionary with the fresh table through the Arrow per-word encoder and
report words/s — the number BASELINE.md pins and
tests/test_bpe.py floors.

Usage: python tools/bpe_build_index.py [--merges 32000] [--batch 64]
       [--window-factor 128] [--out fixtures/bpe_merges_32k]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--merges", type=int, default=32_000)
    ap.add_argument("--batch", type=int, default=64)
    ap.add_argument("--window-factor", type=int, default=128)
    ap.add_argument("--vocab", type=int, default=100_000)
    ap.add_argument("--out", default="fixtures/bpe_merges_32k")
    args = ap.parse_args()

    from tests.datagen import zipf_words
    from tweets_spark_top_10_spark.functions.bpe import (
        MERGE_SCHEMA,
        learn_from_words_batched,
        segment_words_arrow,
    )
    from tweets_spark_top_10_spark.session import get_spark

    spark = get_spark(
        app_name="bpe-build-index",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "16g"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    words = zipf_words(spark, args.vocab).localCheckpoint(eager=True)
    # adoption runs slightly under `batch` per scan; 10% headroom of
    # scans, then truncate to the exact target rank
    rounds = -(-args.merges // args.batch) + max(8, args.merges // (10 * args.batch))
    t0 = time.perf_counter()
    learned, _ = learn_from_words_batched(
        words, rounds=rounds, batch=args.batch, window_factor=args.window_factor
    )
    build_s = round(time.perf_counter() - t0, 1)
    if len(learned) < args.merges:
        print(
            f"# WARNING: only {len(learned)} rules adopted in {rounds} "
            f"scans (target {args.merges}) — persisting what exists",
            file=sys.stderr,
        )
    rules = learned[: args.merges]

    out_dir = os.path.join(REPO, args.out)
    staging = out_dir + ".stage"
    shutil.rmtree(staging, ignore_errors=True)
    (
        spark.createDataFrame(rules, MERGE_SCHEMA)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(staging)
    )
    # one clean committed file, no _SUCCESS/ dir noise
    part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    os.makedirs(out_dir, exist_ok=True)
    final = os.path.join(out_dir, "merges.parquet")
    os.replace(part, final)
    shutil.rmtree(staging, ignore_errors=True)

    # serve-side measurement: the full dictionary through the Arrow
    # per-word encoder under the persisted table
    t0 = time.perf_counter()
    n_words = segment_words_arrow(words, rules).count()
    encode_s = round(time.perf_counter() - t0, 2)

    print(
        json.dumps(
            {
                "rules": len(rules),
                "scans": rounds,
                "build_s": build_s,
                "fixture": os.path.relpath(final, REPO),
                "fixture_bytes": os.path.getsize(final),
                "encode_words": n_words,
                "encode_s": encode_s,
                "words_per_s": round(n_words / encode_s, 0),
            }
        )
    )


if __name__ == "__main__":
    main()
