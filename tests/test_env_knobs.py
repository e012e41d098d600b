"""The engine's environment knobs, pinned.

Every ``SPARK_GRAFT_*`` variable the package reads is a setting users
can reach and a code path tests must cover.  This test lists them; a
new knob (or a deleted one) shows up as an edit here, where it can be
weighed on its own.
"""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "database_spark"

KNOBS = {
    "SPARK_GRAFT_AQE_ADVISORY_BYTES",
    "SPARK_GRAFT_AQE_PARALLELISM_FIRST",
    "SPARK_GRAFT_CHECKPOINT_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "SPARK_GRAFT_NO_MASTER",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
}


def test_env_knob_set_is_pinned():
    found = {
        m
        for path in PKG.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text())
    }
    assert found == KNOBS, (
        f"added: {sorted(found - KNOBS)}, removed: {sorted(KNOBS - found)}"
    )
