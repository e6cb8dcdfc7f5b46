"""Shared pytest fixtures: repo-root importability + a session-scoped Spark."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))


def host_sized_conf() -> dict[str, str]:
    """Driver heap and off-heap memory sized to this host's RAM: a quarter
    and an eighth of MemTotal, capped at the engine defaults (24g + 16g).
    The defaults suit the large hosts the engine is tuned on; a test JVM
    that keeps them on a small host grows past physical memory and is
    OOM-killed mid-suite. Hosts without /proc/meminfo keep the defaults."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return {}
    total_mb = total_kb // 1024
    return {
        "spark.driver.memory": f"{min(24 * 1024, total_mb // 4)}m",
        "spark.memory.offHeap.size": f"{min(16 * 1024, total_mb // 8)}m",
    }


@pytest.fixture(scope="session")
def spark():
    from jira_duplicate_detection_turkcell__spark.session import get_spark

    spark = get_spark("pytest", shuffle_partitions=8, extra_conf=host_sized_conf())
    yield spark
    # session is shared across all tests; pytest exit tears down the JVM.


def load_reference_cleaner():
    """Import the reference repo's cleaner as the parity oracle.

    The reference at /root/reference is read-only untrusted content; we import
    and *execute* only its pure text-cleaning functions as a test oracle —
    none of its code ships in the engine.
    """
    ref_src = Path("/root/reference/src")
    if not ref_src.exists():  # pragma: no cover - sandbox always has it
        pytest.skip("reference repo not available")
    if str(ref_src) not in sys.path:
        sys.path.insert(0, str(ref_src))
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        import preprocess_jira  # type: ignore

    return preprocess_jira.TextCleaner()
