"""Per-query benchmark, ONE FRESH SESSION PER QUERY → BENCHLOG.md.

Full-suite sweeps (bench.py) swing 2-5x with host load, and even a quiet
shared session is unreliable: round 14 found that on a slow host the
block-manager state a query inherits from its predecessors (eager
localCheckpoint blocks, persisted relations) can inflate its reading
10-30x (q_pipeline: 44.7 s in-sequence vs 1.4 s in a fresh session,
identical code).  This tool runs each named query in its OWN subprocess
session — warmup (q_filter), cold, warm — so the number is the query's
and nobody else's, and appends a dated, commit-stamped table to
BENCHLOG.md so per-query perf claims are diffable round over round.

Usage:
    python tools/bench_solo.py                 # default top-expensive set
    python tools/bench_solo.py q_a q_b ...     # explicit subset
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/bench_solo.py q_a
"""

from __future__ import annotations

import datetime
import json
import os
import subprocess
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent

# The persistently-expensive tail of the suite (every query whose warm
# full-suite time has exceeded ~1.5 s in any round), plus the flagship
# aggregate as a fast canary.  Keep sorted by expected cost desc so a
# time-boxed run loses the cheap end.
DEFAULT_QUERIES = [
    "q_dedup_setsim",
    "q_pipeline",
    "q_pagerank",
    "q_split_leakage_safe",
    "q_dedup_near",
    "q_win_corr",
    "q_sim_ivf",
    "q_dedup_semantic",
    "q_sim_pq",
    "q_bpe_train",
    "q_stream_stateful_exec",
    "q_stream_join_exec",
    "q_stream_outer_join_exec",
    "q_dedup_incremental",
    "q_stream_dedup_near",
    "q_cluster_keep",
    "q_dedup_containment",
    "q_dedup_ngram",
    "q_dedup_embed",
    "q_join_range",
    "q_split_train",
    "q_multimodal",
    "q_sql_q21",
    # round-12 additions worth tracking (decade ledger in BENCHLOG.md)
    "q_dedup_simhash",
    "q_lm_bigram",
    "q_boost_tree2",
    "q_forest_vote",
    "q_hits",
    # round-13 additions worth tracking (decade ledger in BENCHLOG.md)
    "q_dedup_span",
    "q_text_winnow",
    "q_sim_recall",
    "q_dedup_recall",
    "q_gbt_depth2",
    "q_contamination_span",
    "q_agg_basic",  # fast canary — now honestly cold (see WARMUP_QUERY)
]

# Session warmup (JVM, codegen path, parquet footers), run before the
# measured query in every child session — never measured itself, so a
# "cold" cell is never a warm re-run.
WARMUP_QUERY = "q_filter"

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from fossa_spark.queries import all_queries
from fossa_spark.session import get_spark

name = {name!r}
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
spark = get_spark(app_name="fossa_bench_solo", master=f"local[{{cpus}}]",
                  shuffle_partitions=cpus)
queries = all_queries()

def run(n):
    t0 = time.perf_counter()
    queries[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0

run({warmup!r})  # session warmup: JVM, codegen path, parquet footers
cold = run(name)
warm = run(name)
print("SOLO_RESULT " + json.dumps(
    {{"q": name, "cold": round(cold, 2), "warm": round(warm, 2)}}), flush=True)
spark.stop()
"""


def main() -> None:
    names = sys.argv[1:] or DEFAULT_QUERIES
    if WARMUP_QUERY in names:
        raise SystemExit(f"{WARMUP_QUERY} is the warmup query; cannot measure it")
    rows = []
    for name in names:
        script = _CHILD.format(repo=str(_REPO), name=name, warmup=WARMUP_QUERY)
        proc = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            cwd=str(_REPO),
        )
        rec = None
        for line in proc.stdout.splitlines():
            if line.startswith("SOLO_RESULT "):
                rec = json.loads(line[len("SOLO_RESULT "):])
        if rec is None:
            sys.stderr.write(proc.stderr[-2000:] + "\n")
            print(f"{name}: FAILED (rc={proc.returncode})", flush=True)
            continue
        rows.append((name, rec["cold"], rec["warm"]))
        print(f"{name}: cold={rec['cold']:.2f}s warm={rec['warm']:.2f}s",
              flush=True)
    if not rows:
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=_REPO,
            capture_output=True, text=True, check=True,
        ).stdout.strip()
    except Exception:
        commit = "unknown"
    stamp = datetime.date.today().isoformat()
    lines = [
        f"\n## {stamp} @ {commit} (sf{sf}, local[{cpus}], SOLO sessions)\n",
        "| query | cold s | warm s |",
        "|---|---|---|",
    ]
    for name, cold, warm in rows:
        lines.append(f"| {name} | {cold:.2f} | {warm:.2f} |")
    with (_REPO / "BENCHLOG.md").open("a") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
