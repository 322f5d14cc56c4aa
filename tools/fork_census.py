"""Subprocess-fork census of a JVM flight recording: counts the
``jdk.ProcessStart`` events by command (``readlink``, ``chmod``, ...)
and by the first Spark frame on each fork's stack, so a fork-bound
micro-batch names the Spark code that forks.

Hadoop's local file system forks ``readlink``/``chmod`` for renames and
permission changes when its native library is absent; each fork costs
milliseconds, so a streaming micro-batch that writes checkpoint or
parquet files can spend more time forking than computing.

Usage:
    jfr print --stack-depth 40 --events jdk.ProcessStart rec.jfr > forks.txt
    python tools/fork_census.py forks.txt [--batches N]

``-`` reads stdin.  ``--batches`` divides every count by the number of
micro-batches the recording covers.
"""

from __future__ import annotations

import argparse
import re
import sys
from collections import Counter

_COMMAND = re.compile(r'^\s*command = "([^"\s]*)', re.M)
_FRAME = re.compile(r"^\s+([\w$.<>]+)\(", re.M)


def parse(text: str) -> list[tuple[str, str]]:
    """``(command, first Spark frame)`` per ProcessStart event; the frame
    is ``-`` for a fork with no Spark code on its stack."""
    out = []
    for event in text.split("jdk.ProcessStart {")[1:]:
        cmd = _COMMAND.search(event)
        frames = _FRAME.findall(event)
        spark = next((f for f in frames if f.startswith("org.apache.spark.")), "-")
        out.append((cmd.group(1) if cmd else "?", spark))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("path", help="`jfr print` output, or - for stdin")
    ap.add_argument("--batches", type=int, default=0,
                    help="micro-batches the recording covers")
    a = ap.parse_args(argv)
    if a.path == "-":
        text = sys.stdin.read()
    else:
        with open(a.path) as fh:
            text = fh.read()
    events = parse(text)
    by_cmd, by_caller = Counter(c for c, _ in events), Counter(events)

    def fmt(n: int) -> str:
        return f"{n:7d}" + (f" {n / a.batches:8.1f}/batch" if a.batches else "")

    print(f"{fmt(len(events))}  total forks")
    print("by command:")
    for cmd, n in by_cmd.most_common():
        print(f"{fmt(n)}  {cmd}")
    print("by command and first Spark caller:")
    for (cmd, caller), n in by_caller.most_common():
        print(f"{fmt(n)}  {cmd:10s} {caller}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
