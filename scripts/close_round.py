"""Round-close gate (VERDICT r8 item 6): refuse to seal a round without a
fresh, in-gate closing bench.

The round-8 lesson: a 20x regression in llm_minhash_dedup hid for four
batches because nothing forced a bench between touching a headline-family
operator and sealing the round. This script IS that forcing function — run
it as the last step of every round:

    python scripts/close_round.py            # runs bench.py fresh, checks gates
    python scripts/close_round.py --reuse F  # check an existing bench JSON file

Gates (BASELINE.md anchors):
  headline_17q_total_wall  <= 2 x 24.7 s  (r1 cold-protocol anchor)
  heavy_total_wall         <= 2 x  3.4 s  (r11 cold-protocol anchor)
  every query present, zero "errors" entries
  driver-row freshness (VERDICT r9 item 5): at most 50 registered
  operators (one driver window) lack a passing CORRECTNESS_r*.json row, so
  the derived driver order (registry.py) samples all of them next round.
  Skip with --skip-freshness only to measure on a broken tree.
  long-tail sweep (VERDICT r10 item 8): a full-registry sweep_all run (or
  --sweep FILE to reuse one) is compared against the newest committed
  SWEEP_r*.json — a >2x per-query regression past a 1 s floor, a query
  still registered but missing from the sweep, or a sweep error refuses
  the seal (a query no longer registered is reported as retired); the
  slowest-15 table is printed as the seal record. --skip-sweep skips it
  loudly.
  Headline/heavy refusals name the bench's cores and the anchors'
  local[32]; sweep refusals name both sweeps' cores when they differ (a
  SWEEP_r*.json without "cores" reads "cores unknown"). No gate scales.

Exit 0 = sealed; exit 1 = DO NOT SEAL (fix or re-measure on an idle host —
concurrent scaling studies inflate readings ~20%, BASELINE.md round-8 note).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADLINE_ANCHOR = 24.7  # sec, sf0.1 (BASELINE.md r1 median)
# Re-anchored in round 11 (BASELINE.md): bench.py now evicts the graph
# edge memo before every timed run, so graph_triangles is measured COLD —
# the old 8.2 s r8 anchor was a warm-protocol number on the pre-rewrite
# wedge-join form. 3.4 s = the round-11 closing cold heavy total.
HEAVY_ANCHOR = 3.4  # sec, sf0.1 (BASELINE.md r11 cold-protocol anchor)
GATE_FACTOR = 2.0
ANCHOR_HOST = "local[32]"  # where BASELINE.md measured both anchors


def cores_text(n: int | None) -> str:
    return f"{n} cores" if n else "cores unknown"


def fresh_bench() -> dict:
    """Run bench.py and parse its one JSON line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        timeout=1800,
    )
    line = next(
        (ln for ln in reversed(proc.stdout.splitlines()) if ln.startswith("{")),
        None,
    )
    if proc.returncode != 0 or line is None:
        print(proc.stdout[-2000:])
        print(proc.stderr[-2000:])
        raise SystemExit("SEAL REFUSED: bench.py failed or printed no JSON line")
    return json.loads(line)


def check(parsed: dict) -> list[str]:
    problems: list[str] = []
    headline = parsed.get("value")
    heavy = parsed.get("heavy_total_wall")
    host = f"(bench on {cores_text(parsed.get('cpus'))}, anchors on {ANCHOR_HOST})"
    if headline is None:
        problems.append("no headline total in bench output")
    elif headline > GATE_FACTOR * HEADLINE_ANCHOR:
        problems.append(
            f"headline {headline:.2f}s > gate {GATE_FACTOR * HEADLINE_ANCHOR:.1f}s {host}"
        )
    if heavy is None:
        problems.append("no heavy_total_wall in bench output")
    elif heavy > GATE_FACTOR * HEAVY_ANCHOR:
        problems.append(f"heavy {heavy:.2f}s > gate {GATE_FACTOR * HEAVY_ANCHOR:.1f}s {host}")
    if parsed.get("errors"):
        problems.append(f"bench recorded query errors: {parsed['errors']}")
    return problems


def registered_names() -> list[str]:
    from air_quality_data_pipeline_spark.registry import load_all_queries

    return list(load_all_queries())


DRIVER_SLOTS = 50  # the driver checks the first 50 entries of queries()


def check_driver_row_freshness(extra_names: tuple = (), history_dir: str = REPO) -> list[str]:
    """Refuse when more operators lack a passing driver row than one driver
    window holds. The registry sorts those first, so up to DRIVER_SLOTS of
    them all get a row next round; more is how st_approx_distinct went two
    rounds without evidence."""
    from air_quality_data_pipeline_spark.registry import driver_history

    key = driver_history(history_dir)
    names = [*registered_names(), *extra_names]  # extras: test seam
    unpassed = sorted(n for n in names if key.get(n, 0) == 0)
    if len(unpassed) > DRIVER_SLOTS:
        return [
            f"{len(unpassed)} operators have no passing driver row, more than the "
            f"{DRIVER_SLOTS}-slot driver window: {unpassed[:10]}..."
        ]
    return []


# Long-tail regression guard (VERDICT r10 item 8): the headline+heavy bench
# covers 20 of ~430 queries; round-10's biggest win (llm_minhash_lsh, 42.5 s)
# was invisible to it. The seal therefore also compares a full-registry
# sweep (scripts/sweep_all.py) against the newest committed SWEEP_r*.json
# and refuses on a >2x regression. The 2x factor sits above the host's
# documented ±40% noise band; the absolute floor keeps 0.2 s -> 0.5 s
# latency jitter from tripping the gate.
SWEEP_REGRESSION_FACTOR = 2.0
SWEEP_ABS_FLOOR_SEC = 1.0
SWEEP_TIMEOUT_SEC = 3600


def newest_sweep_ref() -> str | None:
    """The committed SWEEP_r<N>.json with the highest round number N."""
    import glob
    import re

    rounds: dict[int, str] = {}
    for path in glob.glob(os.path.join(REPO, "SWEEP_r*.json")):
        m = re.fullmatch(r"SWEEP_r(\d+)\.json", os.path.basename(path))
        if m:
            rounds[int(m.group(1))] = path
    return rounds[max(rounds)] if rounds else None


def check_sweep(sweep_path: str | None) -> list[str]:
    """Compare a sweep JSON against the newest committed SWEEP_r*.json.

    Prints the slowest-15 table (the seal record). Returns problems for
    queries that regressed >2x (and past the absolute floor) or vanished,
    and for a sweep run that failed or timed out. With no committed
    reference yet, records the table and passes.
    """
    if sweep_path is None:
        print("sweep guard: running scripts/sweep_all.py (use --sweep FILE to reuse)")
        try:
            proc = subprocess.run(
                [sys.executable, os.path.join(REPO, "scripts", "sweep_all.py"),
                 "--runs", "2", "--out", "/tmp/close_round_sweep.json"],
                capture_output=True, text=True, timeout=SWEEP_TIMEOUT_SEC,
            )
        except subprocess.TimeoutExpired:
            return [f"sweep_all.py timed out after {SWEEP_TIMEOUT_SEC} s"]
        if proc.returncode != 0:
            return [f"sweep_all.py failed: {proc.stderr[-500:]}"]
        sweep_path = "/tmp/close_round_sweep.json"
    cur = json.load(open(sweep_path))
    timings: dict[str, float] = cur.get("timings", cur)
    ref_path = newest_sweep_ref()
    ref = json.load(open(ref_path)) if ref_path else {}
    hosts = ""
    if ref_path:
        compared = (f"{os.path.basename(ref_path)}: {cores_text(ref.get('cores'))}, "
                    f"this sweep: {cores_text(cur.get('cores'))}")
        print(f"sweep guard: {compared}")
        if ref.get("cores") != cur.get("cores"):
            hosts = f" [hosts differ: {compared}]"
    if cur.get("errors"):
        return [f"sweep recorded query errors: {cur['errors']}{hosts}"]
    print("sweep slowest-15 (the seal record):")
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1])[:15]:
        print(f"  {name:28s} {sec:7.3f}")
    if ref_path is None:
        print("sweep guard: no committed SWEEP_r*.json reference yet — recording only")
        return []
    ref_t: dict[str, float] = ref.get("timings", ref)
    problems = []
    missing = [n for n in ref_t if n not in timings]
    if missing:
        registered = set(registered_names())
        retired = [n for n in missing if n not in registered]
        if retired:
            print(f"sweep guard: retired (no longer registered): {retired}")
        problems += [
            f"sweep: {n} present in {os.path.basename(ref_path)} "
            f"but missing from the current sweep"
            for n in missing
            if n in registered
        ]
    for name, prev in ref_t.items():
        now = timings.get(name)
        if now is not None and now > max(SWEEP_REGRESSION_FACTOR * prev, SWEEP_ABS_FLOOR_SEC):
            problems.append(
                f"sweep: {name} regressed {prev:.3f}s -> {now:.3f}s "
                f"(>{SWEEP_REGRESSION_FACTOR}x vs {os.path.basename(ref_path)})"
            )
    return [p + hosts for p in problems]


def main() -> int:
    if "--skip-freshness" in sys.argv:
        sys.argv.remove("--skip-freshness")
        freshness: list[str] = []
    else:
        freshness = check_driver_row_freshness()
    sweep_file = None
    skip_sweep = False
    if "--skip-sweep" in sys.argv:
        sys.argv.remove("--skip-sweep")
        skip_sweep = True
        print("WARNING: --skip-sweep — the long-tail regression guard did not run")
    if "--sweep" in sys.argv:
        i = sys.argv.index("--sweep")
        sweep_file = sys.argv[i + 1]
        del sys.argv[i : i + 2]
    if len(sys.argv) > 2 and sys.argv[1] == "--reuse":
        blob = json.load(open(sys.argv[2]))
        # accept BENCH_r{N}.json (cpus beside "parsed") or the raw line
        parsed = {"cpus": blob.get("cpus"), **blob.get("parsed", blob)}
        src = sys.argv[2]
    else:
        parsed = fresh_bench()
        src = "fresh bench.py run"
    sweep_problems = [] if skip_sweep else check_sweep(sweep_file)
    problems = freshness + check(parsed) + sweep_problems
    headline = parsed.get("value")
    heavy = parsed.get("heavy_total_wall")
    print(
        f"closing bench ({src}, {cores_text(parsed.get('cpus'))}): headline={headline}s "
        f"(anchor {HEADLINE_ANCHOR}, gate {GATE_FACTOR * HEADLINE_ANCHOR:.1f}), "
        f"heavy={heavy}s (anchor {HEAVY_ANCHOR}, gate {GATE_FACTOR * HEAVY_ANCHOR:.1f})"
    )
    if problems:
        for p in problems:
            print("SEAL REFUSED:", p)
        return 1
    print("SEALED: closing bench inside both gates")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
