from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
# the sf0.01 correctness tier is exercised by the driver-contract harness
# (tools/drive_driver_contract.py), not by this suite — no constant here


def _box_size() -> tuple[int, str]:
    """(local cores, driver heap) for the test session, sized from the box
    it runs on: cores from SPARK_GRAFT_CPUS (the tier-1 command exports
    it), else os.cpu_count(); the heap from SPARK_GRAFT_DRIVER_MEM, else
    half of physical RAM — local[N] runs every executor inside the driver
    JVM, and the Python workers and the OS need the other half."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not heap:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        heap = f"{max(1, phys // 2**31)}g"
    return cpus, heap


@pytest.fixture(scope="session")
def spark():
    from r_e_hive__spark.session import get_spark
    from r_e_hive__spark.streaming.pbshim import (
        descope_worker_hook,
        enable_protobuf_shim,
    )

    # ST6b enablement: must run BEFORE the JVM starts — it exports the
    # worker-side sitecustomize hook via PYTHONPATH, which a running JVM
    # would never see.  No-op when a real protobuf wheel exists; returns
    # False (and the TWS twin test skips) when no runtime is available.
    enable_protobuf_shim()
    cpus, heap = _box_size()
    s = get_spark(
        app_name="rehive-tests",
        master=f"local[{cpus}]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": heap},
    )
    # the JVM captured the hooked env at launch; restore the process-global
    # PYTHONPATH so other child processes don't import the shim (r7 ADVICE)
    descope_worker_hook()
    yield s


@pytest.fixture(scope="session")
def oracle_smoke():
    from r_e_hive__spark.oracle.diff import duckdb_connection

    con = duckdb_connection(SF_SMOKE)
    yield con
    con.close()
