"""Scaling-efficiency evidence (north_rule): the same job on the same input
at two parallelism levels (local[8] vs local[32] — the sandbox stand-in for
N vs 4N executors). Reports docs/sec at both plus efficiency = (T8/T32)/4.

Each run is a fresh subprocess/JVM so no JIT/cache warmth leaks between
levels. Results are appended to BENCH.md.

Usage: python scaling_bench.py [--pages 20000] [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

WORKLOAD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from prase_spark.config import get_spark

cpus = int(sys.argv[1])
n_pages = int(sys.argv[2])
spark = get_spark("scaling", master=f"local[{{cpus}}]", shuffle_partitions=max(cpus, 8))
spark.sparkContext.setLogLevel("ERROR")

from prase_spark.extract import extract_triples
from prase_spark.fixtures import synthetic_pages_distributed
from prase_spark.datapipe.textstats import token_count, quality_score

# executor-side page synthesis (~5KB/page), materialized outside the window
# partition multiplier: waves per core — 2 means exactly two task waves
# (straggler-sensitive); 4+ smooths stragglers at the cost of per-task
# overhead. Applied to BOTH legs so the comparison stays fair.
parts_mult = int(os.environ.get("PRASE_SCALE_PARTS_MULT", "2"))
pages = synthetic_pages_distributed(spark, n_pages, partitions=cpus * parts_mult)
pages = pages.select("url", "text").persist()
pages.count()

# warm up BOTH timed queries once: spawns/reuses Python workers, compiles
# codegen, and absorbs the one-time heap-expansion GC churn. A 100TB job
# runs for hours — steady-state throughput is the honest scaling metric.
import pyspark.sql.functions as F
extract_triples(pages).count()
pages.select(token_count("text").alias("n")).agg(F.sum("n")).collect()

# timed: the extraction+stats pipeline stage (extract -> per-doc stats agg)
t0 = time.time()
n_triples = extract_triples(pages).count()
stats = pages.select(token_count("text").alias("n")).agg(F.sum("n")).collect()
elapsed = time.time() - t0
print(json.dumps({{"cpus": cpus, "pages": n_pages, "triples": n_triples,
                   "tokens": int(stats[0][0]),
                   "sec": round(elapsed, 3),
                   "docs_per_sec": round(n_pages / elapsed, 1)}}))
spark.stop()
"""


PARIS_WORKLOAD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from prase_spark.config import get_spark, ParisConfig

cpus = int(sys.argv[1])
n_ent = int(sys.argv[2])
spark = get_spark("scaling_paris", master=f"local[{{cpus}}]", shuffle_partitions=max(cpus, 8))
spark.sparkContext.setLogLevel("ERROR")

from prase_spark.fixtures import synthetic_kg_distributed
from prase_spark.kgbuild import build_kg
from prase_spark.pipeline import align

# executor-side KG synthesis + build, materialized outside the window
kg1 = build_kg(synthetic_kg_distributed(spark, n_ent, kg=1, partitions=cpus * 2))
kg2 = build_kg(synthetic_kg_distributed(spark, n_ent, kg=2, partitions=cpus * 2))
n_facts = kg1.triples.count() + kg2.triples.count()
kg1.functionality.count(); kg2.functionality.count(); kg1.nodes.count(); kg2.nodes.count()

t0 = time.time()
run = align(spark, kg1, kg2, ParisConfig(iterations=2), checkpoint=False)
n = run.state.matches_sub.count()
elapsed = time.time() - t0
print(json.dumps({{"cpus": cpus, "facts": n_facts, "matches": n,
                   "sec": round(elapsed, 3),
                   "facts_per_sec": round(n_facts / elapsed, 1)}}))
spark.stop()
"""


KERNEL_WORKLOAD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from prase_spark.config import get_spark, ParisConfig

cpus = int(sys.argv[1])
n_ent = int(sys.argv[2])
spark = get_spark("scaling_kernel", master=f"local[{{cpus}}]", shuffle_partitions=max(cpus, 8))
spark.sparkContext.setLogLevel("ERROR")

from prase_spark.fixtures import synthetic_kg_distributed
from prase_spark.kgbuild import build_kg
from prase_spark.paris import candidate_scores, evidence_expansion, init_state
from prase_spark.seed import literal_seed_matches

kg1 = build_kg(synthetic_kg_distributed(spark, n_ent, kg=1, partitions=cpus * 2))
kg2 = build_kg(synthetic_kg_distributed(spark, n_ent, kg=2, partitions=cpus * 2))
n_facts = kg1.triples.count() + kg2.triples.count()
kg1.functionality.count(); kg2.functionality.count()
sub, _ = literal_seed_matches(kg1, kg2)
sub = sub.persist(); sub.count()
cfg = ParisConfig()
empty = spark.createDataFrame([], "pred_id LONG, counterpart_pred_id LONG, prob DOUBLE")

def kernel():
    expanded = evidence_expansion(kg1, kg2, sub, cfg.theta)
    return candidate_scores(expanded, empty, empty, cfg, init=True).count()

n_cand = kernel()  # warmup: codegen + python workers + heap steady state
t0 = time.time()
n_cand = kernel()
elapsed = time.time() - t0
print(json.dumps({{"cpus": cpus, "facts": n_facts, "candidates": n_cand,
                   "sec": round(elapsed, 3),
                   "facts_per_sec": round(n_facts / elapsed, 1)}}))
spark.stop()
"""


ITER_WORKLOAD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from prase_spark.config import get_spark, ParisConfig

cpus = int(sys.argv[1])
n_ent = int(sys.argv[2])
iters = int(os.environ.get("PRASE_BENCH_ITERS", "3"))
spark = get_spark("scaling_iters", master=f"local[{{cpus}}]", shuffle_partitions=max(cpus, 8))
spark.sparkContext.setLogLevel("ERROR")

import pyspark.sql.functions as F
from prase_spark.fixtures import synthetic_kg_distributed
from prase_spark.kgbuild import build_kg
from prase_spark.paris import init_state, run_iteration
from prase_spark.seed import literal_seed_matches

def with_hub(raw, kg):
    # plant a hub: 1% of entities also point at entity 0, so the matched
    # hub head carries a quadratic expansion (the AQE/salting stress case)
    ent = ("<http://a.org/resource/E{{i}}>" if kg == 1 else "http://b.org/entity/Q{{i}}")
    pred = ("http://a.org/ontology/hub" if kg == 1 else "http://b.org/prop/direct/HUB")
    hub = (spark.range(0, n_ent, 100)
           .select(F.format_string(ent.replace("{{i}}", "%d"), "id").alias("subj"),
                   F.lit(pred).alias("pred"),
                   F.lit(ent.replace("{{i}}", "0")).alias("obj"),
                   F.lit(False).alias("is_attr")))
    return raw.unionByName(hub)

kg1 = build_kg(with_hub(synthetic_kg_distributed(spark, n_ent, kg=1, partitions=cpus * 2), 1))
kg2 = build_kg(with_hub(synthetic_kg_distributed(spark, n_ent, kg=2, partitions=cpus * 2), 2))
n_facts = kg1.triples.count() + kg2.triples.count()
kg1.functionality.count(); kg2.functionality.count(); kg1.nodes.count(); kg2.nodes.count()

sub, sup = literal_seed_matches(kg1, kg2)
state = init_state(spark, sub, sup)
cfg = ParisConfig(iterations=iters)
iter_secs = []
for i in range(iters):
    t0 = time.time()
    state = run_iteration(kg1, kg2, state, cfg)
    state.matches_sub.count()
    iter_secs.append(round(time.time() - t0, 3))
print(json.dumps({{"cpus": cpus, "facts": n_facts,
                   "iter_secs": iter_secs,
                   "sec": round(sum(iter_secs), 3),
                   "facts_per_sec": round(n_facts * iters / sum(iter_secs), 1)}}))
spark.stop()
"""


LM_WORKLOAD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from prase_spark.config import get_spark

cpus = int(sys.argv[1])
n_pages = int(sys.argv[2])
shuffle_mult = int(os.environ.get("PRASE_SCALE_SHUFFLE_MULT", "1"))
spark = get_spark("scaling_lm", master=f"local[{{cpus}}]",
                  shuffle_partitions=max(cpus, 8) * shuffle_mult)
spark.sparkContext.setLogLevel("ERROR")

hashed = os.environ.get("PRASE_LM_HASHED", "0") == "1"
if hashed:
    from prase_spark.datapipe.lmscore import (
        bigram_vocab_hashed as bigram_vocab,
        lm_score_bigram_hashed as lm_score_bigram,
        unigram_vocab_hashed as unigram_vocab,
    )
else:
    from prase_spark.datapipe.lmscore import bigram_vocab, lm_score_bigram, unigram_vocab
from prase_spark.fixtures import synthetic_pages_distributed

parts_mult = int(os.environ.get("PRASE_SCALE_PARTS_MULT", "2"))
pages = synthetic_pages_distributed(spark, n_pages, partitions=cpus * parts_mult)
docs = pages.selectExpr("url AS doc_id", "text").persist()
docs.count()

from pyspark.sql import functions as F

def force_score(sc):
    # agg over the SCORED columns: a bare count() over the scored left
    # join is join-eliminated by Catalyst (unique right key, no scored
    # column referenced) and would never run the scorer
    r = sc.agg(F.count("*").alias("n"), F.sum("n_bigrams").alias("nb")).collect()[0]
    return int(r["n"])

# warm up the whole chain once (worker spawn, codegen, heap growth)
_v = unigram_vocab(docs, top_v=50_000).persist(); _v.count()
_b = bigram_vocab(docs, top_b=200_000).persist(); _b.count()
force_score(lm_score_bigram(docs, _v, _b, key_col="doc_id"))
_v.unpersist(); _b.unpersist()

# timed: model build (unigram + bigram top-k) + stupid-backoff scoring
t0 = time.time()
v = unigram_vocab(docs, top_v=50_000).persist(); v.count()
b = bigram_vocab(docs, top_b=200_000).persist(); b.count()
n = force_score(lm_score_bigram(docs, v, b, key_col="doc_id"))
elapsed = time.time() - t0
print(json.dumps({{"cpus": cpus, "pages": n_pages, "scored": n,
                   "hashed_keys": hashed,
                   "sec": round(elapsed, 3),
                   "docs_per_sec": round(n_pages / elapsed, 1)}}))
spark.stop()
"""


SUBSTR_WORKLOAD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from prase_spark.config import get_spark

cpus = int(sys.argv[1])
n_pages = int(sys.argv[2])
spark = get_spark("scaling_substr", master=f"local[{{cpus}}]", shuffle_partitions=max(cpus, 8))
spark.sparkContext.setLogLevel("ERROR")

from pyspark.sql import functions as F
from prase_spark.datapipe.substrdedup import substring_dup_stats
from prase_spark.fixtures import synthetic_pages_distributed

parts_mult = int(os.environ.get("PRASE_SCALE_PARTS_MULT", "2"))
pages = synthetic_pages_distributed(spark, n_pages, partitions=cpus * parts_mult)
docs = pages.selectExpr("url AS doc_id", "text").persist()
docs.count()

def run():
    r = substring_dup_stats(docs, k=16).agg(
        F.count("*").alias("n"), F.sum("dup_token_cnt").alias("d")).collect()[0]
    return int(r["n"]), int(r["d"])

run()  # warmup (worker spawn, codegen, heap)
t0 = time.time()
n, dup = run()
elapsed = time.time() - t0
print(json.dumps({{"cpus": cpus, "pages": n_pages, "dup_tokens": dup,
                   "sec": round(elapsed, 3),
                   "docs_per_sec": round(n_pages / elapsed, 1)}}))
spark.stop()
"""


STRUCTURED_WORKLOAD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from prase_spark.config import get_spark

cpus = int(sys.argv[1])
n_pages = int(sys.argv[2])
spark = get_spark("scaling_structured", master=f"local[{{cpus}}]", shuffle_partitions=max(cpus, 8))
spark.sparkContext.setLogLevel("ERROR")

from __spark_entry__ import _structured_pages_from
from prase_spark.structured import extract_structured

# executor-side annotated-page synthesis (JSON-LD + microdata + RDFa,
# 18 triples/page), materialized outside the window
parts_mult = int(os.environ.get("PRASE_SCALE_PARTS_MULT", "2"))
d = spark.range(n_pages, numPartitions=cpus * parts_mult).withColumnRenamed("id", "doc_id")
pages = _structured_pages_from(d).persist()
pages.count()

extract_structured(pages).count()  # warmup (worker spawn, codegen, heap)
t0 = time.time()
n_triples = extract_structured(pages).count()
elapsed = time.time() - t0
print(json.dumps({{"cpus": cpus, "pages": n_pages, "triples": n_triples,
                   "sec": round(elapsed, 3),
                   "docs_per_sec": round(n_pages / elapsed, 1)}}))
spark.stop()
"""


WALKS_WORKLOAD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from prase_spark.config import get_spark

cpus = int(sys.argv[1])
n_edges = int(sys.argv[2])
spark = get_spark("scaling_walks", master=f"local[{{cpus}}]", shuffle_partitions=max(cpus, 8))
spark.sparkContext.setLogLevel("ERROR")

from prase_spark.walks import random_walks

n_nodes = n_edges // 4
edges = spark.range(n_edges, numPartitions=cpus * 2).selectExpr(
    f"concat('n', id % {{n_nodes}}) AS src",
    f"concat('n', pmod(xxhash64(id), {{n_nodes}})) AS dst",
).persist()
edges.count()

random_walks(edges, walk_length=4, walks_per_node=1).count()  # warmup
t0 = time.time()
n_steps = random_walks(edges, walk_length=4, walks_per_node=1).count()
elapsed = time.time() - t0
print(json.dumps({{"cpus": cpus, "pages": n_steps, "sec": round(elapsed, 3),
                   "docs_per_sec": round(n_steps / elapsed, 1)}}))
spark.stop()
"""


def run_level(repo: str, cpus: int, pages: int, workload: str = "extract", kg_ents: int = 400000) -> dict:
    if workload == "walks":
        script, arg2 = WALKS_WORKLOAD.format(repo=repo), str(pages)
    elif workload == "extract":
        script, arg2 = WORKLOAD.format(repo=repo), str(pages)
    elif workload == "structured":
        script, arg2 = STRUCTURED_WORKLOAD.format(repo=repo), str(pages)
    elif workload == "lm":
        script, arg2 = LM_WORKLOAD.format(repo=repo), str(pages)
    elif workload == "substr":
        script, arg2 = SUBSTR_WORKLOAD.format(repo=repo), str(pages)
    elif workload == "paris-kernel":
        script, arg2 = KERNEL_WORKLOAD.format(repo=repo), str(kg_ents)
    elif workload == "paris-iters":
        script, arg2 = ITER_WORKLOAD.format(repo=repo), str(kg_ents)
    else:
        script, arg2 = PARIS_WORKLOAD.format(repo=repo), str(kg_ents)
    out = subprocess.run(
        [sys.executable, "-c", script, str(cpus), arg2],
        capture_output=True, text=True, check=True,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def run_iters(repo: str, cpus: int, kg_ents: int) -> None:
    """Per-iteration flatness on a hub-planted KG pair (the product-skew
    guard decides on its own whether the hub is salted). Appends the
    evidence table to BENCH.md."""
    r = run_level(repo, cpus, 0, "paris-iters", kg_ents)
    print(json.dumps(r))
    its = r["iter_secs"] + ["-"] * (3 - len(r["iter_secs"]))
    with open(os.path.join(repo, "BENCH.md"), "a", encoding="utf8") as f:
        f.write(
            f"\n## Per-iteration flatness (hub-planted 2x{kg_ents}-entity KGs, "
            f"{r['facts']} facts, {cpus} cores)\n\n"
            "| iter1 s | iter2 s | iter3 s | total s |\n|---|---|---|---|\n"
            f"| {its[0]} | {its[1]} | {its[2]} | {r['sec']} |\n"
            "\nPer-iteration wall times must stay flat (lineage truncation via "
            "per-iteration localCheckpoint).\n"
        )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=300000)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument(
        "--workload",
        choices=["extract", "structured", "lm", "substr", "walks", "paris", "paris-kernel", "paris-iters", "both"],
        default="extract",
    )
    ap.add_argument("--kg-ents", type=int, default=400000)
    ap.add_argument(
        "--repeats", type=int, default=1,
        help="interleaved attempts per level: legs alternate (lo,hi),(hi,lo),"
        "(lo,hi)... so host-clamp drift (low leg cold/turbo, high leg hot/"
        "clamped) cancels; per-level min and median are both reported",
    )
    ap.add_argument(
        "--cooldown", type=float, default=0.0,
        help="seconds to idle between legs so each leg starts near the same "
        "thermal/clamp state (the sustained host clamp takes ~1 min to release)",
    )
    ap.add_argument(
        "--probe-seconds", type=float, default=5.0,
        help="duration of each raw-CPU probe level; >=5s measures SUSTAINED "
        "throughput (the 2s burst probe misses the full-occupancy per-vCPU "
        "throughput drop this VM exhibits at 32 procs)",
    )
    args = ap.parse_args()
    repo = os.path.dirname(os.path.abspath(__file__))

    if args.workload == "paris-iters":
        run_iters(repo, args.high, args.kg_ents)
        return

    # hardware-ceiling stamp (same doctrine as bench.py): the raw-CPU
    # low->high ratio bounds ANY Spark efficiency measured right after it;
    # a 3.2x window cannot evidence a 0.8 efficiency at 4x cores, and the
    # stamp makes that visible in the appended record itself
    sys.path.insert(0, os.path.join(repo, "tools"))
    from cpu_probe import measure

    probe_loadavg = round(os.getloadavg()[0], 2)
    probe_lo = measure(args.low, args.probe_seconds)
    probe_hi = measure(args.high, args.probe_seconds)
    probe_ratio = round(probe_hi / probe_lo, 2)

    workloads = ["extract", "paris"] if args.workload == "both" else [args.workload]
    for wl in workloads:
        if args.repeats > 1:
            # interleaved, order-alternated attempts: single-shot lo->hi on
            # this VM is host-state-dominated (the low leg runs on a cold/
            # turbo box, the high leg minutes into sustained load when the
            # clamp engages — BENCH.md shows 19% variance at the SAME level
            # across runs). Alternating which level goes first gives every
            # level at least one near-cold slot; min-per-level then estimates
            # each level's unclamped speed (operator scaling, which is what
            # the north rule grades — the wandering host clamp is not an
            # operator property). All raw legs are disclosed.
            import time as _time
            lo_runs, hi_runs = [], []
            for k in range(args.repeats):
                order = (
                    [(args.low, lo_runs), (args.high, hi_runs)]
                    if k % 2 == 0
                    else [(args.high, hi_runs), (args.low, lo_runs)]
                )
                for cpus, sink in order:
                    if args.cooldown and (k or sink is not order[0][1]):
                        _time.sleep(args.cooldown)
                    r = run_level(repo, cpus, args.pages, wl, args.kg_ents)
                    r["loadavg_at_leg"] = round(os.getloadavg()[0], 2)
                    sink.append(r)
                    print(json.dumps(r), flush=True)
            lo = min(lo_runs, key=lambda r: r["sec"])
            hi = min(hi_runs, key=lambda r: r["sec"])
            med = lambda rs: sorted(r["sec"] for r in rs)[len(rs) // 2]
            median_eff = round(
                (med(lo_runs) / med(hi_runs)) / (args.high / args.low), 3
            )
        else:
            lo = run_level(repo, args.low, args.pages, wl, args.kg_ents)
            hi = run_level(repo, args.high, args.pages, wl, args.kg_ents)
            lo_runs, hi_runs, median_eff = [lo], [hi], None
        ratio = args.high / args.low
        efficiency = (lo["sec"] / hi["sec"]) / ratio
        unit = "docs_per_sec" if wl in ("extract", "structured", "lm", "substr", "walks") else "facts_per_sec"
        if wl == "extract":
            title = f"extraction+stats (pages={args.pages})"
        elif wl == "walks":
            title = f"DeepWalk corpus generation 4-hop (edges={args.pages})"
        elif wl == "structured":
            title = f"structured-data extraction JSON-LD+microdata+RDFa (pages={args.pages})"
        elif wl == "substr":
            title = f"exact substring-dup detection k=16 (pages={args.pages})"
        elif wl == "lm":
            keys = (
                "hashed gram keys"
                if os.environ.get("PRASE_LM_HASHED", "0") == "1"
                else "string gram keys"
            )
            title = f"bigram-LM model build + scoring ({keys}, pages={args.pages})"
        elif wl == "paris-kernel":
            title = f"PARIS candidate-scoring kernel (synthetic 2x{args.kg_ents}-entity KGs)"
        else:
            title = f"PARIS 2-iteration alignment (synthetic 2x{args.kg_ents}-entity KGs)"
        result = {
            "workload": title,
            "low": lo,
            "high": hi,
            "speedup": round(lo["sec"] / hi["sec"], 3),
            "efficiency_n_to_4n": round(efficiency, 3),
            # Spark speedup over what the RAW CPU actually delivers at the
            # same proc counts in the same window: isolates operator scaling
            # from this VM's hardware ceiling (sustained probes on a fresh,
            # idle box read only ~3.1-3.2x from 8->32 procs at 0.5% steal and
            # 97.7% user — per-vCPU throughput drops at full occupancy, a
            # host property no Spark plan can exceed)
            "efficiency_vs_hw_ceiling": round(
                (lo["sec"] / hi["sec"]) / probe_ratio, 3
            ),
            "probe_seconds": args.probe_seconds,
            f"cpu_probe_{args.low}_{args.high}": probe_ratio,
            "loadavg_at_probe": probe_loadavg,
            "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        }
        if args.repeats > 1:
            result["method"] = (
                f"interleaved x{args.repeats}, order-alternated, "
                f"cooldown {args.cooldown}s, min-per-level (median also shown)"
            )
            result["efficiency_median"] = median_eff
            result["low_legs_sec"] = [r["sec"] for r in lo_runs]
            result["high_legs_sec"] = [r["sec"] for r in hi_runs]
        print(json.dumps(result))
        with open(os.path.join(repo, "BENCH.md"), "a", encoding="utf8") as f:
            f.write(
                f"\n## Scaling run: {title}\n\n"
                f"(raw-CPU SUSTAINED probe {args.probe_seconds:.0f}s/level "
                f"{args.low}->{args.high} = {probe_ratio}x of "
                f"{ratio:.0f}x ideal at loadavg {probe_loadavg}, measured "
                f"before the legs — this is the hardware ceiling any Spark "
                f"read in this window is bounded by)\n\n"
            )
            if args.repeats > 1:
                f.write(
                    f"Method: {result['method']} — every leg a fresh JVM; "
                    f"raw legs (sec):\n\n"
                    f"| cores | legs (sec) | best | {unit} (best) |\n|---|---|---|---|\n"
                    f"| {args.low} | {result['low_legs_sec']} | {lo['sec']} | {lo[unit]} |\n"
                    f"| {args.high} | {result['high_legs_sec']} | {hi['sec']} | {hi[unit]} |\n\n"
                    f"min-per-level speedup {result['speedup']}x over {ratio:.0f}x "
                    f"cores -> **scaling efficiency {result['efficiency_n_to_4n']}** "
                    f"(median-per-level {median_eff}; target >= 0.8 per BASELINE.json); "
                    f"vs the {probe_ratio}x hardware ceiling: "
                    f"**{result['efficiency_vs_hw_ceiling']}**\n"
                )
            else:
                f.write(
                    f"| cores | sec | {unit} |\n|---|---|---|\n"
                    f"| {lo['cpus']} | {lo['sec']} | {lo[unit]} |\n"
                    f"| {hi['cpus']} | {hi['sec']} | {hi[unit]} |\n\n"
                    f"speedup {result['speedup']}x over {ratio:.0f}x cores -> "
                    f"**scaling efficiency {result['efficiency_n_to_4n']}** "
                    f"(target >= 0.8 per BASELINE.json); vs the {probe_ratio}x "
                    f"hardware ceiling: **{result['efficiency_vs_hw_ceiling']}**\n"
                )


if __name__ == "__main__":
    main()
