#!/usr/bin/env python3
"""Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see harness.py and README.md."""

import sys

from harness import main

if __name__ == "__main__":
    sys.exit(main())
