import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def event_log_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("eventlog"))


@pytest.fixture(scope="session")
def spark(tmp_path_factory, event_log_dir):
    """One small session for every test, writing an uncompressed event log
    that the parser tests read back."""
    from perfbench.harness import start_session

    session = start_session(
        str(tmp_path_factory.mktemp("work")), event_log_dir=event_log_dir
    )
    yield session
    session.stop()
