#!/usr/bin/env python3
"""Inventory of the classes Spark's code generator compiled in one run.

    python3 tools/codegen_inventory.py [target/codegen-debug.log] [--top N]

Reads the log that tools/log4j2-codegen.properties writes (one record per
compile: `@@codegen <time> [<thread>]` and the generated source) and prints

- compiles, distinct bodies and recompiles (compiles of a body already
  compiled once in the run);
- the split between driver threads and executor threads ("Executor task
  launch worker ..."). Spark caches a compiled class under the compiling
  thread's context class loader and the source, so one body used on both
  kinds of thread takes two cache entries;
- the distinct count after stripping whole-stage ids
  (`GeneratedIteratorForCodegenStage7`, `codegenStageId=7`) and then
  numeric literals as well: how many bodies are near-duplicates that
  differ only there;
- the N most recompiled bodies, each by its first class or method line.

Standard library only.
"""
import argparse
import collections
import re
import sys

HEADER = re.compile(r"^@@codegen (\S+) \[(.*?)\](.*)$")
LINE_NO = re.compile(r"^/\* \d+ \*/ ?")
STAGE_ID = re.compile(r"(CodegenStage|codegenStageId=)\d+")
LITERAL = re.compile(r"(?<![\w$])-?\d+(\.\d+)?([eE]-?\d+)?[LlDdFf]?(?![\w$])")


def records(path):
    """(thread, source) per compile; the "Code generated in" lines that
    follow each compile carry no source and are skipped."""
    thread, body = None, []
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            m = HEADER.match(line)
            if m:
                if thread is not None and body:
                    yield thread, "\n".join(body)
                thread, body = m.group(2), []
                if m.group(3).strip():  # a one-line message, not a source
                    thread = None
            elif thread is not None:
                body.append(LINE_NO.sub("", line.rstrip("\n")))
    if thread is not None and body:
        yield thread, "\n".join(body)


def label(src):
    for line in src.splitlines():
        s = line.strip()
        if s.startswith(("final class", "class", "public java.lang.Object apply",
                         "public int compare", "public boolean eval",
                         "public UnsafeRow apply")):
            return s[:100]
    return src.splitlines()[1].strip()[:100] if "\n" in src else src[:100]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("log", nargs="?", default="target/codegen-debug.log")
    ap.add_argument("--top", type=int, default=10)
    a = ap.parse_args()

    recs = list(records(a.log))
    if not recs:
        sys.exit(f"no compile records in {a.log}")
    per_body = collections.Counter(src for _, src in recs)
    executor = [r for r in recs if r[0].startswith("Executor task launch")]
    driver = [r for r in recs if not r[0].startswith("Executor task launch")]
    no_stage = {STAGE_ID.sub(r"\1#", s) for s in per_body}
    no_literal = {LITERAL.sub("#", s) for s in no_stage}
    both = {s for _, s in driver} & {s for _, s in executor}

    print(f"compiles              {len(recs)}")
    print(f"distinct bodies       {len(per_body)}")
    print(f"recompiles            {len(recs) - len(per_body)}")
    print(f"driver-thread         {len(driver)} compiles, "
          f"{len({s for _, s in driver})} bodies")
    print(f"executor-thread       {len(executor)} compiles, "
          f"{len({s for _, s in executor})} bodies")
    print(f"bodies on both kinds  {len(both)}")
    print(f"distinct, stage ids stripped           {len(no_stage)}")
    print(f"distinct, stage ids + literals stripped {len(no_literal)}")
    print(f"\nmost recompiled (compiles, body):")
    for src, n in per_body.most_common(a.top):
        print(f"  {n:4d}  {label(src)}")


if __name__ == "__main__":
    main()
