"""Traced ``csvb`` entry point: install the benchmark's span wrappers,
then hand the remaining arguments to ``csvb_spark.cli.main``.

Usage: python3 perfbench/launcher.py SPANS.jsonl CLI_ARGS...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    import csvb_spark.cli as cli
    import spans

    tracer = spans.Tracer(sink=sys.argv[1])
    spans.install(tracer)
    return cli.main(sys.argv[2:])


if __name__ == "__main__":
    sys.exit(main())
