"""Keep the benchmark self-test out of a bare ``pytest`` run from the repo root.

The self-test launches full benchmark runs (minutes each), so it only runs
when asked for by path: ``python3 -m pytest perfbench/tests -q``. A path
given on the command line is collected even when listed here.
"""

collect_ignore = ["tests"]
