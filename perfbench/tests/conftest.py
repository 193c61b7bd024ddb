import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import host  # noqa: E402


@pytest.fixture(scope="session")
def event_log_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("eventlog"))


@pytest.fixture(scope="session")
def spark(event_log_dir):
    """One local[nproc] session for the whole directory, with the JSON
    event log on so the trace digest can be tested against real jobs."""
    host.require_program()
    host.prepare_env()
    s = host.get_session("perfbench-tests", event_log_dir=event_log_dir)
    yield s
    host.stop_processes()
