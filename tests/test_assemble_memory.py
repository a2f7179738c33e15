"""Constrained-memory proof of the chunked-assembly OOM bound.

``assemble_conversations`` holds one collect_list buffer per
conversation — a 2M-turn conversation is ~2M struct copies plus the
array_sort copy plus 2M per-turn formatted strings, all live at once.
``assemble_conversations_chunked`` never buffers more than
``chunk_size`` structs per group (stage 1) or one chunk string per
chunk (stage 2), so its peak is dominated by the final assembled
string itself.

Measured thresholds (Spark 4.1.2, local[4], 2M-turn single
conversation, 4-char texts, the probe's session from ``get_spark`` with
``-XX:+UseSerialGC -XX:ActiveProcessorCount=4``): chunked completes in
a **500 MiB** driver JVM (the smallest heap Spark starts in); flat OOMs
at 650m and 700m and completes at 750m. The test pins the separation
point between the two: same input, 600 MiB heap → chunked completes,
flat dies with java.lang.OutOfMemoryError. Serial GC and a pinned
processor count make the outcome independent of host load: under the
default G1 collector, the flat probe once survived 650m while another
Spark job loaded every core. Checked 3× with the host idle and 3× under
a concurrent all-core Spark job: the same outcome each time.

~45 s of subprocess JVMs; skip with SPARK_GRAFT_SKIP_SLOW=1.
"""

import os
import subprocess
import sys

import pytest

PROBE = os.path.join(os.path.dirname(__file__), "memory_probe.py")
ARGS = ["--turns", "2000000", "--text-len", "4", "--driver-memory", "600m"]

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SKIP_SLOW") == "1",
    reason="slow subprocess probe skipped via SPARK_GRAFT_SKIP_SLOW",
)


def _run(mode: str) -> tuple[bool, str]:
    proc = subprocess.run(
        [sys.executable, PROBE, "--mode", mode, *ARGS],
        capture_output=True,
        text=True,
        timeout=300,
    )
    out = proc.stdout + proc.stderr
    return proc.returncode == 0 and "PROBE_OK" in proc.stdout, out


def test_chunked_survives_where_flat_ooms():
    ok_chunked, out_chunked = _run("chunked")
    assert ok_chunked, f"chunked assembly died in the 600m JVM:\n{out_chunked[-2000:]}"
    assert "n_turns=2000000" in out_chunked

    ok_flat, out_flat = _run("flat")
    assert not ok_flat, (
        "flat assembly survived the 600m JVM — the constrained-memory "
        "separation no longer holds; re-measure thresholds in memory_probe.py"
    )
    assert "OutOfMemoryError" in out_flat
