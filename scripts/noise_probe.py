#!/usr/bin/env python
"""Host-steal probe CLI: time a fixed busy-loop single-proc, then one
concurrent proc per core.  On a quiet box the per-task wall at full width
is ~1.0-1.3x the single-proc wall; host steal inflates it.  Logic lives in
``openie_with_entities_spark.noise`` (shared with the test suite's
steal-aware timing bounds)."""
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from openie_with_entities_spark.noise import measure_steal  # noqa: E402

if __name__ == "__main__":
    print(measure_steal())
