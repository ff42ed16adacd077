from __future__ import annotations

import pytest

from legate_dataframe_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="ldf-tests", master="local[8]",
                    shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def registry_plans() -> dict[str, str]:
    """Simple-mode physical plan of ``QUERIES[name](spark, sf_dir)``
    for each registry entry built so far this session, by name.

    Building an entry runs its setup actions (warehouse writes,
    generation swaps, checkpoints): about 7 minutes for all 265 on
    4 cores.  The oracle-parity test records the plan of the frame it
    builds, and the registry-wide plan checks read it from here
    instead of building every entry a second time; an entry not
    recorded yet is built where it is needed."""
    return {}
