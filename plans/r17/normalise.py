#!/usr/bin/env python3
"""Normalise the sbt output of `graft.Explain` for a diff between two runs.

  python3 plans/r17/normalise.py explain_output.txt > executed_plans.txt

Keeps the plan lines (sbt's `[info] ` prefix stripped) and drops sbt's own
lines. Applies the rules of plans/r12/README.md: expression ids, plan ids,
scratch dirs, lambda variable suffixes, JVM lambda classes and `@` hash
codes become fixed tokens.
"""
import re
import sys

SBT_LINES = ("welcome to sbt", "loading ", "set current project", "running ",
             "compiling", "done compiling", "[success]")

for line in open(sys.argv[1]):
    line = line.rstrip("\n")
    if not line.startswith("[info]"):
        continue
    line = line[7:] if line.startswith("[info] ") else line[6:]
    if line.startswith(SBT_LINES):
        continue
    line = re.sub(r"#\d+L?", "#N", line)
    line = re.sub(r"\b(plan_id|id)=\d+", r"\1=N", line)
    line = re.sub(r"(/dev/shm/graft_scratch/|/tmp/)[^\s,\]\)]*", "/SCRATCH/X", line)
    line = re.sub(r"lambda (\w+)_\d+", r"lambda \1_N", line)
    line = re.sub(r"\$Lambda\$?[\d/x]*[0-9a-fx]+", "$Lambda$N", line)
    line = re.sub(r"@[0-9a-f]{4,}", "@H", line)
    print(line)
