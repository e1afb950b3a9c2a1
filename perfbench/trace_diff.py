"""Compare two traced perfbench runs layer by layer.

Each traced run (--trace 1) leaves a record at
.bench_build/perfbench/<workload>-seed<n>-trace1.json holding its per-layer
metrics and the roll-up of its spans (calls, inclusive seconds, self
seconds, jobs per span name). Copy the record of the parent commit's run
aside, run the change, then:

  python3 perfbench/trace_diff.py <before.json> <after.json> [--all]

prints, per per-layer metric and per span name, both values and the
change, largest absolute self-time changes first. Without --all, rows
that are zero on both sides are left out.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def rel(a, b):
    return "%+.1f%%" % (100.0 * (b - a) / a) if a else ("n/a" if b else "0")


def main(argv):
    show_all = "--all" in argv
    paths = [x for x in argv if x != "--all"]
    if len(paths) != 2:
        raise SystemExit(__doc__)
    a, b = load(paths[0]), load(paths[1])
    if a["workload"] != b["workload"]:
        print("warning: comparing %s with %s" % (a["workload"], b["workload"]))
    print("per-layer metrics (%s)" % a["workload"])
    print("%-28s %14s %14s %10s" % ("metric", "before", "after", "change"))
    ma, mb = a["metrics"], b["metrics"]
    for k in sorted(set(ma) | set(mb)):
        x = ma.get(k, {}).get("value", 0.0)
        y = mb.get(k, {}).get("value", 0.0)
        if x or y or show_all:
            print("%-28s %14.4f %14.4f %10s" % (k, x, y, rel(x, y)))
    print()
    print("spans: self seconds (inclusive seconds, jobs)")
    sa, sb = a["spans"], b["spans"]
    zero = {"calls": 0.0, "s": 0.0, "self_s": 0.0, "jobs": 0.0}
    rows = []
    for n in set(sa) | set(sb):
        x, y = sa.get(n, zero), sb.get(n, zero)
        rows.append((abs(y["self_s"] - x["self_s"]), n, x, y))
    print("%-24s %10s %10s %10s %8s %8s %6s %6s" % (
        "span", "self_bef", "self_aft", "change", "s_bef", "s_aft",
        "jobs_b", "jobs_a"))
    for _, n, x, y in sorted(rows, reverse=True):
        print("%-24s %10.4f %10.4f %10s %8.3f %8.3f %6d %6d" % (
            n, x["self_s"], y["self_s"], rel(x["self_s"], y["self_s"]),
            x["s"], y["s"], x["jobs"], y["jobs"]))


if __name__ == "__main__":
    main(sys.argv[1:])
