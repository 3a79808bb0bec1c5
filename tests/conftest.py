import os
import sys

import pytest

# the checkout root, so tests import blueflood_spark and __spark_entry__
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from blueflood_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    try:
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # newer Sparks read TIMESTAMP(NANOS) natively; _t() normalizes
    yield s


class ReadGate:
    """Drives a serve call through the driver-read gate (plans/scan.py)
    and, with the size gate at 0, through its Spark plan; `paths` lists
    the path each call logged on `logger` since the last clear."""

    def __init__(self, caplog, logger: str):
        self.caplog = caplog
        self.logger = logger
        caplog.set_level("DEBUG", logger=logger)

    def paths(self) -> list[str]:
        return [("driver" if "on the driver" in r.getMessage() else "spark")
                for r in self.caplog.records
                if r.name == self.logger and not r.exc_info]  # not a failure's traceback

    def taken(self, call):
        """(call(), the set of paths it logged)."""
        self.caplog.clear()
        out = call()
        return out, set(self.paths())

    def spark_only(self, call):
        from blueflood_spark.plans import scan

        with pytest.MonkeyPatch.context() as m:
            m.setattr(scan, "_DRIVER_READ_MAX_BYTES", 0)
            return call()

    def both(self, call):
        """(driver result, Spark result) of `call`, asserting each path."""
        driver, paths = self.taken(call)
        assert paths == {"driver"}
        spark_result, paths = self.taken(lambda: self.spark_only(call))
        assert paths == {"spark"}
        return driver, spark_result


@pytest.fixture()
def read_gate(caplog):
    """ReadGate factory: read_gate(logger name)."""
    return lambda logger: ReadGate(caplog, logger)


@pytest.fixture()
def request_jobs(spark):
    """request_jobs(call) -> (Spark jobs, result) of call(), run in a
    fresh job group: the status tracker keeps earlier groups' jobs, so a
    reused group name would count them too."""
    import uuid

    sc = spark.sparkContext

    def run(call):
        group = f"serve_request_{uuid.uuid4().hex}"
        sc.setJobGroup(group, "one serve request")
        try:
            out = call()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run
