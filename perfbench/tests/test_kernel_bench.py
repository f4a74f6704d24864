"""The kernel microbench's outputs against the stored checksums.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import kernel_bench  # noqa: E402


def test_checksums_match_and_a_changed_output_fails():
    res = kernel_bench.run()
    problems = kernel_bench.check(res)
    assert set(problems) == {"decode", "extract", "verify_pair",
                             "verify_pair_columns", "minhash", "suffix"}
    assert not any(problems.values()), problems
    res["minhash"]["checksum"] = "0" * 16   # a kernel that computes
    problems = kernel_bench.check(res)      # something different
    assert problems["minhash"] and not problems["suffix"]
