#!/usr/bin/env python3
"""Per-trigger sink evidence from a stmtbench run's stderr.

Needs two things in the stderr stream, in order:
  - CodeGenerator INFO lines ("Code generated in <ms> ms"), with the
    thread name in brackets, from a log4j2 config that sets
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator to
    INFO and prints %t;
  - one "SINKPHASE batch=<id> write_ms=<ms> refresh_ms=<ms>" line per
    sinkBatch call (a probe line in a scratch build, not in the engine).

Compiles between two SINKPHASE lines are charged to the later trigger.
Prints, over the last N triggers, compiles per trigger by thread kind and
the medians of the sink's write and view-refresh times.

    python3 plans/r24/sink_phases.py run.err [N=24]
"""
import re
import statistics
import sys

path = sys.argv[1]
last = int(sys.argv[2]) if len(sys.argv) > 2 else 24
gen = re.compile(r"^\S+ \[(.*)\] INFO CodeGenerator: Code generated in ([0-9.]+) ms")
sink = re.compile(r"SINKPHASE batch=(\d+) write_ms=([0-9.]+) refresh_ms=([0-9.]+)")


def kind(thread):
    if thread.startswith("stream execution thread"):
        return "stream"
    if thread.startswith("Executor task launch worker"):
        return "task"
    return "other"


triggers, pending = [], {"stream": [], "task": [], "other": []}
for line in open(path, errors="replace"):
    m = gen.search(line)
    if m:
        pending[kind(m.group(1))].append(float(m.group(2)))
        continue
    m = sink.search(line)
    if m:
        triggers.append((float(m.group(2)), float(m.group(3)), pending))
        pending = {"stream": [], "task": [], "other": []}

tail = triggers[-last:]
n = len(tail)
print(f"triggers: {len(triggers)} (last {n} reported)")
for k in ("stream", "task", "other"):
    c = sum(len(t[2][k]) for t in tail)
    ms = sum(sum(t[2][k]) for t in tail)
    print(f"compiles/trigger {k}: {c / n:.2f} ({ms / n:.1f} ms/trigger)")
print(f"write_ms median: {statistics.median(t[0] for t in tail):.1f}")
print(f"refresh_ms median: {statistics.median(t[1] for t in tail):.2f}")
