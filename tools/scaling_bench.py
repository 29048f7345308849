"""Two-cluster-size scaling evidence — equal-window throughput protocol (v4).

Sandbox substitution for the north rule's N vs 4N executor criterion (no
real cluster available). The levels are local[1], local[2], local[4], ...
derived from the host's core count (:func:`levels`). When they fit in
half of the host's cores (local[1..8] on a 32-core host: 15 cores busy,
well under the shared-memory-bandwidth ceiling) they run CONCURRENTLY,
each JVM (and its Python workers) pinned with ``taskset`` to a disjoint
core set. Each level loops the identical job back-to-back inside a
shared wall window; throughput = window-overlap credit x work / window.
The graded pairs are every N->4N the levels hold (1->4 and 2->8 there).

On a smaller host the levels cannot be disjoint (1 + 4 > 4 cores), so
they run ONE AT A TIME, each alone in its own windows, pinned to the
host's highest cores: the ratio then compares different wall windows
and carries the host's minute-scale noise (below), so read it with that
band.

Why windows instead of per-rep minimums (protocol v3): the sandbox VM has
hypervisor neighbors that swing effective IPC 2-3x on a scale of minutes
(identical work measured at 94 vs 257 CPU-seconds, near-zero
guest-visible steal). Independent min-of-reps per level samples that
noise distribution — whichever level lucked into the quietest window wins
— producing ratios anywhere from 0.5 to 1.1 for the same pipeline. With
one shared wall window, every level integrates over the SAME noise, and
the ratio — the quantity under test — cancels it.

Credit for a rep [t0, t1] against window [W0, W1]:
    credit = max(0, min(t1, W1) - max(t0, W0)) / (t1 - t0)
i.e. a rep half inside the window counts half. Reps are identical, so
this is an unbiased throughput estimate with quantization error bounded
by 1 rep-fraction at each window edge.

Usage: python tools/scaling_bench.py [n_docs] [build_window_s]
       [query_window_s]
Writes the summary JSON to stdout and /tmp/scale_v4_summary.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# 20k queries per batch: the per-batch fixed cost (idf lookup + plan +
# cache fill, ~1-2 s) is then <1% of even the local[8] batch — at the
# north rule's scale batches are far larger still, so amortizing it is
# measuring the regime the criterion describes.
N_QUERIES = 20000
# Levels run one at a time only on a small host, whose local[1] serves
# ~90 queries/s (4-core host): 2k queries keep a batch near 23 s there, so
# a query window of a minute or two still holds several batches.
N_QUERIES_ONE_AT_A_TIME = 2000


def levels(n_cores: int) -> list:
    """Groups of ``(cpus, core_lo, core_hi)`` levels; the levels of one
    group run concurrently. Levels are the powers of two up to the host's
    cores; they share one group when they fit in half of the cores, else
    each is a group of its own. Cores are taken from the top — per-cpu
    /proc/stat steal shows hypervisor neighbors land disproportionately
    on low vCPUs (cpu0 ~2.5x the steal of cpu24+)."""
    cpus = [1]
    while sum(cpus) + 2 * cpus[-1] <= n_cores // 2:
        cpus.append(2 * cpus[-1])
    if len(cpus) > 2:
        top, groups = n_cores, [[]]
        for c in reversed(cpus):
            groups[0].append((c, top - c, top - 1))
            top -= c
        return groups
    cpus = [1]
    while 2 * cpus[-1] <= n_cores:
        cpus.append(2 * cpus[-1])
    return [[(c, n_cores - c, n_cores - 1)] for c in reversed(cpus)]


def launch(cpus: int, core_lo: int, core_hi: int, n_docs: int,
           n_queries: int, corpus_dir: str, barrier: str,
           log_path: str) -> subprocess.Popen:
    env = dict(os.environ)
    env["SPARK_GRAFT_CORPUS_DIR"] = corpus_dir
    logf = open(log_path, "w")
    return subprocess.Popen(
        ["taskset", "-c", f"{core_lo}-{core_hi}",
         sys.executable, os.path.join(HERE, "scaling_job.py"),
         str(cpus), str(n_docs), str(n_queries), barrier],
        stdout=subprocess.PIPE, stderr=logf, text=True, cwd=REPO, env=env,
    )


def credit(reps: list, w0: float, w1: float) -> float:
    tot = 0.0
    for t0, t1 in reps:
        if t1 <= t0:
            continue
        tot += max(0.0, min(t1, w1) - max(t0, w0)) / (t1 - t0)
    return tot


def wait_files(paths: list, timeout: float) -> None:
    t0 = time.time()
    while not all(os.path.exists(p) for p in paths):
        if time.time() - t0 > timeout:
            missing = [p for p in paths if not os.path.exists(p)]
            raise RuntimeError(f"timeout waiting for {missing}")
        time.sleep(1.0)


def main() -> None:
    # 320k default (was 220k): the criterion describes the 10^12-doc
    # regime where per-rep fixed overhead (S ~ tens of seconds of driver
    # coordination) is amortized to nothing; at 220k docs a local[8] rep
    # is only ~2 min so S is a visible fraction of the measurement itself.
    # 320k keeps the full run under ~70 min while moving the measured
    # regime toward the one the rule is about.
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 320000
    build_win = float(sys.argv[2]) if len(sys.argv) > 2 else 1800.0
    query_win = float(sys.argv[3]) if len(sys.argv) > 3 else 480.0

    tmp_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    corpus_dir = os.environ.get("SPARK_GRAFT_CORPUS_DIR")
    own_corpus = corpus_dir is None or not os.path.exists(
        os.path.join(corpus_dir, "_SUCCESS"))
    if own_corpus:
        corpus_dir = tempfile.mkdtemp(prefix="scale_corpus_", dir=tmp_root)
        gen = subprocess.run(
            [sys.executable, os.path.join(HERE, "gen_corpus.py"),
             str(n_docs), corpus_dir],
            capture_output=True, text=True, timeout=1200, cwd=REPO,
        )
        if gen.returncode != 0:
            raise RuntimeError(f"corpus gen failed:\n{gen.stderr[-2000:]}")
    groups = levels(os.cpu_count() or 1)
    n_queries = N_QUERIES if len(groups) == 1 else N_QUERIES_ONE_AT_A_TIME
    table: dict = {}
    try:
        for group in groups:
            table.update(run_group(group, n_docs, n_queries, corpus_dir,
                                   tmp_root, build_win, query_win))
    finally:
        if own_corpus:
            shutil.rmtree(corpus_dir, ignore_errors=True)

    def eff(lo_c: int, hi_c: int, key: str) -> float:
        return round(
            (table[hi_c][key] / table[lo_c][key]) / (hi_c / lo_c), 3
        )

    pairs = {
        f"{lo}->{4 * lo}": {
            "build": eff(lo, 4 * lo, "build_docs_per_sec"),
            "query": eff(lo, 4 * lo, "queries_per_sec"),
        }
        for lo in sorted(table) if 4 * lo in table
    }
    summary = {
        "n_docs": n_docs,
        "n_queries": n_queries,
        "concurrent_levels": len(groups) == 1,
        "build_window_sec": build_win,
        "query_window_sec": query_win,
        "levels": table,
        "efficiency": pairs,
    }
    print(json.dumps(summary))
    with open("/tmp/scale_v4_summary.json", "w") as f:
        json.dump(summary, f, indent=2)


def run_group(group: list, n_docs: int, n_queries: int, corpus_dir: str,
              tmp_root, build_win: float, query_win: float) -> dict:
    """Run one group of levels concurrently through a build window and a
    query window; returns each level's credits and throughputs."""
    barrier = tempfile.mkdtemp(prefix="scale_barrier_", dir=tmp_root)
    procs = {}
    results = {}
    try:
        for cpus, lo, hi in group:
            procs[cpus] = launch(cpus, lo, hi, n_docs, n_queries, corpus_dir,
                                 barrier, f"/tmp/scale_v4_c{cpus}.log")
        wait_files([os.path.join(barrier, f"ready_{c}") for c, _, _ in group],
                   timeout=3000)
        print(f"# levels {sorted(procs)} warm; opening build window",
              file=sys.stderr)

        b0 = time.time()
        open(os.path.join(barrier, "start_build"), "w").close()
        time.sleep(build_win)
        b1 = time.time()
        open(os.path.join(barrier, "stop_build"), "w").close()
        wait_files(
            [os.path.join(barrier, f"build_done_{c}") for c, _, _ in group],
            timeout=2400)
        print("# build window closed; opening query window", file=sys.stderr)

        q0 = time.time()
        open(os.path.join(barrier, "start_query"), "w").close()
        time.sleep(query_win)
        q1 = time.time()
        open(os.path.join(barrier, "stop_query"), "w").close()

        for cpus, p in procs.items():
            out, _ = p.communicate(timeout=1800)
            if p.returncode != 0:
                raise RuntimeError(f"level {cpus} failed rc={p.returncode}")
            results[cpus] = json.loads(out.strip().splitlines()[-1])
    finally:
        for p in procs.values():
            if p.poll() is None:
                p.kill()
        shutil.rmtree(barrier, ignore_errors=True)

    table = {}
    for cpus, r in sorted(results.items()):
        bc = credit(r["build_reps"], b0, b1)
        qc = credit(r["query_reps"], q0, q1)
        table[cpus] = {
            "build_credit": round(bc, 3),
            "query_credit": round(qc, 3),
            "build_docs_per_sec": round(bc * n_docs / (b1 - b0), 1),
            "queries_per_sec": round(qc * n_queries / (q1 - q0), 2),
            "build_reps": len(r["build_reps"]),
            "query_reps": len(r["query_reps"]),
        }
    return table


if __name__ == "__main__":
    main()
