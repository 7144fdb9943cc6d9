#!/usr/bin/env python3
"""Interleaved A/B of one benchmark workload: a base ref against a change.

Run from the repository root:

    python3 scripts/ab.py --base HEAD~1 --workload etl_dump \\
        --seeds 301-310 --seconds 10 --out AB_etl_dump.json

The base side is ``git archive`` of ``--base``; the change side is HEAD,
or with ``--uncommitted`` the current checkout's tracked and
untracked-but-not-ignored files. Each side gets its own directory, so both
run their own benchmark harness against their own engine code. For every seed the two sides run
``perfbench/run.py --trace 0`` back to back; the side that goes first
alternates from seed to seed, so slow drift of the host's speed does not
favour either side.

Printed per pair: every end-to-end metric of ``BENCHMARK.json`` for both
sides and which side won it, whether both runs were correct, the CPU steal
of each run and each run's ``setup_parts``. The ``--out`` record also keeps
each run's workload ``detail`` block. Then, per metric, each side's
median and quartiles, the change's win count, the median gap in percent and
whether that gap exceeds the base's interquartile range. The script only
reads ``perfbench/`` and ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

# Seconds before one benchmark run is abandoned and recorded as an error.
_RUN_TIMEOUT_S = 900.0


def _git(*args: str, **kw) -> subprocess.CompletedProcess:
    return subprocess.run(["git", *args], check=True, capture_output=True, **kw)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def checkout_ref(ref: str, dest: str) -> None:
    """The files of ``ref`` at ``dest`` (``git archive``: nothing is
    registered in the repository, so a killed run leaves nothing to
    prune)."""
    os.makedirs(dest)
    archive = _git("archive", "--format=tar", ref).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
        tar.extractall(dest, filter="tar")


def checkout_uncommitted(dest: str) -> None:
    """The current checkout as it is on disk: tracked files plus untracked
    files that ``.gitignore`` does not exclude."""
    names = _git("ls-files", "-z", "-co", "--exclude-standard").stdout
    for name in filter(None, names.decode().split("\0")):
        if not os.path.isfile(name):
            continue  # deleted in the checkout but not yet staged
        target = os.path.join(dest, name)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copy2(name, target)


def run_side(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py`` run in ``root``: its result line, its
    detail line, or the error that stopped it. ``detail`` is the
    workload's own block as the run printed it (for ``etl_dump`` the
    per-call ``etl_call_s`` list, which shows the warm-up a median
    hides)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=root, env=env, capture_output=True,
                           text=True, timeout=_RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {_RUN_TIMEOUT_S:.0f} s"}
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        return {"error": f"exit {p.returncode}: {p.stderr.strip()[-400:]}"}
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    window = detail.get("window", {})
    return {
        "correct": result["correct"],
        "failed": result["failed"],
        "attempted": result["attempted"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "steal_pct": window.get("steal_pct"),
        "setup_parts": window.get("setup_parts"),
        "detail": detail.get("detail", {}),
    }


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs: list[dict], metrics: list[dict]) -> dict:
    """Per metric: each side's median and quartiles, the change's wins,
    the median gap and whether it exceeds the base's IQR."""
    ok = [p for p in pairs if "metrics" in p["base"] and "metrics" in p["change"]]
    if not ok:
        return {}
    out = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        base = [p["base"]["metrics"][name] for p in ok]
        change = [p["change"]["metrics"][name] for p in ok]
        bq1, bmed, bq3 = _quartiles(base)
        cq1, cmed, cq3 = _quartiles(change)
        wins = sum((c < b) if lower else (c > b) for b, c in zip(base, change))
        out[name] = {
            "better": m["better"],
            "base": {"median": bmed, "q1": bq1, "q3": bq3},
            "change": {"median": cmed, "q1": cq1, "q3": cq3},
            "change_wins": wins,
            "pairs": len(ok),
            "gap_pct": 100.0 * (cmed - bmed) / bmed if bmed else None,
            "base_iqr_over_median": (bq3 - bq1) / bmed if bmed else None,
            "gap_exceeds_base_iqr": abs(cmed - bmed) > (bq3 - bq1),
        }
    return out


def _num(x) -> str:
    return "-" if x is None else f"{x:.1f}"


def _fmt_parts(parts: dict | None) -> str:
    if not parts:
        return "-"
    return " ".join(f"{k.removesuffix('_s')}={v:.1f}" for k, v in parts.items()
                    if isinstance(v, (int, float)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git ref of the base side")
    ap.add_argument("--uncommitted", action="store_true",
                    help="use the current checkout's files as the change side "
                         "instead of HEAD")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="seeds, e.g. 301-310 or 5,7,9; one pair per seed")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--workdir", default=None,
                    help="where the two checkouts go (default: a new temp dir)")
    ap.add_argument("--out", default=None, help="write the full record here")
    args = ap.parse_args(argv)

    top = _git("rev-parse", "--show-toplevel", text=True).stdout.strip()
    os.chdir(top)
    with open("BENCHMARK.json") as f:
        metrics = json.load(f)["end_to_end"]
    work = args.workdir or tempfile.mkdtemp(prefix="ab-")
    roots = {"base": os.path.join(work, "base"),
             "change": os.path.join(work, "change")}
    for root in roots.values():
        shutil.rmtree(root, ignore_errors=True)
    checkout_ref(args.base, roots["base"])
    if args.uncommitted:
        checkout_uncommitted(roots["change"])
        change_name = "uncommitted checkout"
    else:
        checkout_ref("HEAD", roots["change"])
        change_name = "HEAD"

    names = [m["name"] for m in metrics]
    print(f"# base={args.base} change={change_name} workload={args.workload}"
          f" metrics={','.join(names)}", flush=True)
    pairs = []
    try:
        for i, seed in enumerate(_seeds(args.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_side(roots[side], args.workload, seed,
                                      args.seconds)
            pairs.append(pair)
            b, c = pair["base"], pair["change"]
            if "error" in b or "error" in c:
                print(f"seed {seed}: base {b.get('error', 'ok')} | "
                      f"change {c.get('error', 'ok')}", flush=True)
                continue
            cells = []
            for m in metrics:
                x, y = b["metrics"][m["name"]], c["metrics"][m["name"]]
                won = (y < x) if m["better"] == "lower" else (y > x)
                cells.append(f"{m['name']} {x:.4g}->{y:.4g}"
                             f"{' (change)' if won else ''}")
            print(f"seed {seed} first={pair['first']}: " + "; ".join(cells)
                  + f"; correct {b['correct']}/{c['correct']}"
                  f" failed {b['failed']}/{c['failed']}"
                  f"; steal% {_num(b['steal_pct'])}/{_num(c['steal_pct'])}"
                  f"; setup base[{_fmt_parts(b['setup_parts'])}]"
                  f" change[{_fmt_parts(c['setup_parts'])}]", flush=True)
    finally:
        if not args.workdir:
            shutil.rmtree(work, ignore_errors=True)

    summary = summarize(pairs, metrics)
    for name, s in summary.items():
        b, c = s["base"], s["change"]
        print(f"{name} ({s['better']} is better): "
              f"base {b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}] -> "
              f"change {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}], "
              f"gap {s['gap_pct']:+.1f} %, change wins "
              f"{s['change_wins']}/{s['pairs']}, base IQR/median "
              f"{s['base_iqr_over_median']:.3f}, gap exceeds base IQR: "
              f"{s['gap_exceeds_base_iqr']}")
    steal = [p[s]["steal_pct"] for p in pairs for s in ("base", "change")
             if p[s].get("steal_pct") is not None]
    if steal:
        print(f"steal %: min {min(steal):.1f}, median "
              f"{statistics.median(steal):.1f}, max {max(steal):.1f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"base": args.base, "change": change_name,
                       "workload": args.workload, "seconds": args.seconds,
                       "pairs": pairs, "summary": summary}, f, indent=1)
    errors = sum("error" in p[s] for p in pairs for s in ("base", "change"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
