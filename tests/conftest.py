import pytest

from haskellpagerank_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # small local session: tests verify semantics, not throughput
    return get_spark(app_name="hpr-tests", cores=4, shuffle_partitions=4)


@pytest.fixture
def fail_second_sweep(monkeypatch):
    """Patch ``module.job_name`` (a per-sweep Spark job taking the blocks and
    the sweep's broadcast) so its second call raises; returns the list of
    broadcasts the sweeps were given."""

    def install(module, job_name):
        seen = []
        real_job = getattr(module, job_name)

        def job(blocks, bc):
            seen.append(bc)
            if len(seen) == 2:
                raise RuntimeError("sweep failed")
            return real_job(blocks, bc)

        monkeypatch.setattr(module, job_name, job)
        return seen

    return install
