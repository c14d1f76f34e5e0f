#!/usr/bin/env python3
"""Regenerate README.md's measured-figures block from committed artifacts.

The round-4 verdict caught README carrying a bench total and a test count
that matched neither the committed bench_out.json nor `sbt test` at HEAD.
Numbers drift when they are typed; this script makes the README block a
pure function of the artifacts:

  bench_out.json   — written by `runMain graft.Bench` (per-query medians,
                     spreads, iters, skip list, cores, failed queries)
  --passed/--failed/--cancelled
                   — the "Tests: succeeded N, failed F, canceled C" figures
                     from the latest `sbt test` run (pass them explicitly so
                     a stale log can't be mistaken for HEAD); "all green" is
                     printed only when F is 0
  --correct "M/M"  — the check_oracle.py verdict line, e.g. "91/91"
  --correct-sf SF  — the scale factor check_oracle.py ran at, e.g. "0.1"
                     (required with --correct)

Usage:
  python3 tools/gen_figures.py --passed 127 --failed 0 --cancelled 5 --correct 91/91 --correct-sf 0.01
  python3 tools/gen_figures.py --passed 127 --failed 0 --cancelled 5 --correct 91/91 --correct-sf 0.01 --apply

With --apply the text between the FIGURES:BEGIN/END markers in README.md
is replaced; everything outside the markers is untouched.
"""
import argparse
import json
import re
import sys

BEGIN = "<!-- FIGURES:BEGIN (generated by tools/gen_figures.py; do not edit) -->"
END = "<!-- FIGURES:END -->"


def block(bench: dict, tests: tuple[int, int, int] | None, correct: str | None,
          correct_sf: str | None) -> str:
    queries = {k: v for k, v in bench["queries"].items() if v >= 0}
    failed = sorted(k for k, v in bench["queries"].items() if v < 0)
    skipped = bench.get("skipped", [])
    spreads = bench.get("spread", {})
    total = sum(queries.values())
    cores = f", {bench['cpus']} cores" if "cpus" in bench else ""
    lines = [BEGIN]
    lines.append(
        f"- sf0.1 bench (`{bench['sf']}`{cores}): **{len(queries)} queries, "
        f"{total:.1f} s total** (avg {total / len(queries):.3f} s/query), "
        f"per-query warmup + median-of-{bench['iters']}."
    )
    slow = sorted(queries.items(), key=lambda kv: -kv[1])[:5]
    lines.append(
        "- slowest five: "
        + ", ".join(f"`{k}` {v:.2f} s" for k, v in slow)
        + "."
    )
    noisy = sorted(
        (k for k, s in spreads.items() if k in queries and s > 0.5),
        key=lambda k: -spreads[k],
    )
    if noisy:
        lines.append(
            "- spread > 0.5×median (box noise dominates on sub-second ops): "
            + ", ".join(f"`{k}` ({spreads[k]:.2f})" for k in noisy)
            + "."
        )
    if skipped:
        lines.append(
            f"- **partial run** — {len(skipped)} queries not run: "
            + ", ".join(f"`{k}`" for k in skipped)
            + "."
        )
    if failed:
        lines.append("- FAILED queries: " + ", ".join(f"`{k}`" for k in failed) + ".")
    if correct:
        lines.append(
            f"- correctness: **{correct} queries** match the DuckDB oracle "
            f"(rows + schema + value hash) at sf{correct_sf} via `tools/check_oracle.py`."
        )
    if tests:
        passed, failed_tests, cancelled = tests
        verdict = "all green" if failed_tests == 0 else "**NOT green**"
        lines.append(
            f"- `sbt test`: **{passed} passed**, {failed_tests} failed, "
            f"{cancelled} cancelled; {verdict}."
        )
    lines.append(END)
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench", default="bench_out.json")
    ap.add_argument("--readme", default="README.md")
    ap.add_argument("--passed", type=int, default=None)
    ap.add_argument("--failed", type=int, default=None)
    ap.add_argument("--cancelled", type=int, default=None)
    ap.add_argument("--correct", default=None, help='e.g. "91/91"')
    ap.add_argument("--correct-sf", default=None,
                    help='the scale factor the oracle check ran at, e.g. "0.1"')
    ap.add_argument("--apply", action="store_true")
    args = ap.parse_args()

    with open(args.bench) as f:
        bench = json.load(f)
    counts = (args.passed, args.failed, args.cancelled)
    if any(c is None for c in counts) and any(c is not None for c in counts):
        ap.error("--passed, --failed and --cancelled go together")
    if (args.correct is None) != (args.correct_sf is None):
        ap.error("--correct and --correct-sf go together")
    text = block(bench, None if counts[0] is None else counts, args.correct, args.correct_sf)
    if not args.apply:
        print(text)
        return 0
    with open(args.readme) as f:
        readme = f.read()
    pattern = re.compile(re.escape(BEGIN) + ".*?" + re.escape(END), re.S)
    if not pattern.search(readme):
        sys.stderr.write("README.md has no FIGURES markers\n")
        return 1
    with open(args.readme, "w") as f:
        f.write(pattern.sub(lambda _: text, readme))
    print(f"updated {args.readme} from {args.bench}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
