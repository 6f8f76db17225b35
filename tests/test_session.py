"""The accumulator update handler ``get_spark`` installs: PySpark's
protocol, and a server that stops at once while the JVM's connection is
still open (PySpark's own handler holds ``shutdown()`` for up to 1 s)."""

from __future__ import annotations

import os
import pickle
import socket
import struct
import threading
import time
from types import SimpleNamespace

from pyspark.accumulators import (
    INT_ACCUMULATOR_PARAM,
    Accumulator,
    _accumulatorRegistry,
    _start_update_server,
)

from ocrd_odem_spark import session
from ocrd_odem_spark.session import get_spark

TOKEN = "accumulator-test-token"
AID = 1_000_003  # far above the ids a SparkContext hands out


def _merge(updates: list[tuple[int, int]]) -> bytes:
    """One merge as the JVM sends it: a count, then length-prefixed pickles."""
    out = struct.pack("!i", len(updates))
    for pair in updates:
        data = pickle.dumps(pair)
        out += struct.pack("!i", len(data)) + data
    return out


def _serve():
    """A PySpark accumulator server running the engine's handler, and the
    threads it started."""
    before = set(threading.enumerate())
    server = _start_update_server(TOKEN, False)
    session._stop_promptly(SimpleNamespace(_accumulatorServer=server))
    return server, set(threading.enumerate()) - before


def _open_fds() -> set[str]:
    return set(os.listdir("/proc/self/fd"))


def test_handler_speaks_pyspark_protocol():
    acc = Accumulator(AID, 10, INT_ACCUMULATOR_PARAM)
    server, threads = _serve()
    try:
        with socket.create_connection(server.server_address, timeout=5) as sock:
            sock.sendall(TOKEN.encode() + _merge([(AID, 32)]))
            acks = [sock.recv(1)]
            for _ in range(2):
                sock.sendall(_merge([]))
                acks.append(sock.recv(1))
            assert acks == [b"\x01"] * 3
            assert acc.value == 42
            server.shutdown()
    finally:
        del _accumulatorRegistry[AID]
    for t in threads:
        t.join(timeout=5)
        assert not t.is_alive()


def test_handler_rejects_a_wrong_token():
    acc = Accumulator(AID, 10, INT_ACCUMULATOR_PARAM)
    server, _ = _serve()
    try:
        with socket.create_connection(server.server_address, timeout=5) as sock:
            sock.sendall(b"x" * len(TOKEN) + _merge([(AID, 32)]))
            assert sock.recv(1) == b""  # closed without an ack
        assert acc.value == 10
    finally:
        server.shutdown()
        del _accumulatorRegistry[AID]


def test_shutdown_returns_while_the_connection_is_open():
    for _ in range(5):
        fds = _open_fds()
        server, threads = _serve()
        with socket.create_connection(server.server_address, timeout=5) as sock:
            sock.sendall(TOKEN.encode() + _merge([]))
            assert sock.recv(1) == b"\x01"
            t0 = time.perf_counter()
            server.shutdown()
            assert time.perf_counter() - t0 < 0.2
        for t in threads:
            t.join(timeout=5)
            assert not t.is_alive()
        assert _open_fds() <= fds


def test_handler_serves_until_serve_forever_is_told_to_stop():
    # AccumulatorTCPServer.shutdown sets server_shutdown before
    # BaseServer.shutdown sets its own flag; a handler that returned in
    # between would leave serve_forever in its 0.5 s poll.
    server, threads = _serve()
    with socket.create_connection(server.server_address, timeout=5) as sock:
        sock.sendall(TOKEN.encode() + _merge([]))
        assert sock.recv(1) == b"\x01"
        server.server_shutdown = True
        time.sleep(0.1)
        sock.sendall(_merge([]))
        assert sock.recv(1) == b"\x01"
        server.shutdown()
    for t in threads:
        t.join(timeout=5)
        assert not t.is_alive()


def test_spark_accumulator_sums_exactly(spark):
    sc = spark.sparkContext
    assert sc._accumulatorServer.RequestHandlerClass is session._PromptStopHandler
    acc = sc.accumulator(0)
    sc.parallelize(range(1000), 4).foreach(lambda x: acc.add(x))
    assert acc.value == 499500
    assert get_spark("ocrd-odem-spark-tests", cores=4, shuffle_partitions=8) is spark
    assert sc._accumulatorServer.RequestHandlerClass is session._PromptStopHandler
