from __future__ import annotations

import pytest

from newssearchengine_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_tiny() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture
def py4j_commands(monkeypatch):
    """A callable giving the number of py4j commands this thread has sent
    to the JVM since the fixture started: every JVM call is one. Object
    releases (py4j's memory commands, which the Python GC triggers at
    any time, on any thread) are not counted."""
    import threading

    from py4j import clientserver, java_gateway, protocol

    me = threading.get_ident()
    sent = [0]

    def counting(orig):
        def send_command(self, command, *args, **kwargs):
            if (threading.get_ident() == me
                    and not command.startswith(protocol.MEMORY_COMMAND_NAME)):
                sent[0] += 1
            return orig(self, command, *args, **kwargs)
        return send_command

    for cls in (clientserver.ClientServerConnection,
                java_gateway.GatewayConnection):
        monkeypatch.setattr(cls, "send_command", counting(cls.send_command))
    return lambda: sent[0]


@pytest.fixture(scope="session")
def placed():
    """A context manager factory: inside ``with placed("driver"):`` each
    build, compaction and merge runs on the driver (SEARCH_DRIVER_CAP
    raised past every tier-1 volume); inside ``with placed("spark"):``
    each runs the Spark plans (-1). Queries follow the same cap."""
    import contextlib

    from newssearchengine_spark.plans import search

    @contextlib.contextmanager
    def place(placement):
        cap = search.SEARCH_DRIVER_CAP
        search.SEARCH_DRIVER_CAP = 1 << 40 if placement == "driver" else -1
        try:
            yield placement
        finally:
            search.SEARCH_DRIVER_CAP = cap
    return place


@pytest.fixture(params=["driver", "spark"])
def write_placement(request, placed):
    """Runs a test once per write placement (see ``placed``)."""
    with placed(request.param):
        yield request.param
