"""C6: TCP server + client, modeled on the reference's
spec/blurrily/server_spec.rb, spec/blurrily/client_spec.rb and
spec/integration_spec.rb (golden triples, keep-alive, multi-db isolation,
save-on-shutdown, pre-seeded map reuse)."""

from __future__ import annotations

import os
import socket

import pytest

from blurrily_spark.api import Map
from blurrily_spark.server import BlurrilyClient, BlurrilyServer, ClientError


@pytest.fixture()
def server(spark, tmp_path):
    srv = BlurrilyServer(
        spark,
        host="127.0.0.1",
        port=0,  # ephemeral, like the specs' find_free_port
        directory=str(tmp_path),
        save_interval=3600,
    ).start()
    yield srv
    srv.stop()


def client_for(server: BlurrilyServer, db: str = "foobar") -> BlurrilyClient:
    return BlurrilyClient(host="127.0.0.1", port=server.port, db_name=db)


def raw_socket(server: BlurrilyServer) -> socket.socket:
    return socket.create_connection(("127.0.0.1", server.port))


# -- server_spec.rb -----------------------------------------------------------


def test_responds_with_error_to_unknown_command(server):
    # server_spec.rb:30-33
    with raw_socket(server) as sock:
        sock.sendall(b"Who is most beautiful in the world?\n")
        reply = sock.makefile("rb").readline().decode()
    assert reply.startswith("ERROR\tUnknown command")


def test_protocol_errors_do_not_close_the_connection(server):
    # server_spec.rb:35-40
    with raw_socket(server) as sock:
        rfile = sock.makefile("rb")
        for _ in range(3):
            sock.sendall(b"Bad command\n")
        for _ in range(3):
            assert rfile.readline().decode().startswith("ERROR")


def test_saves_when_quitting(spark, tmp_path):
    # server_spec.rb:42-53 (save-on-TERM == our stop())
    srv = BlurrilyServer(
        spark, host="127.0.0.1", port=0, directory=str(tmp_path), save_interval=3600
    ).start()
    with client_for(srv, "words") as c:
        c.put("merveilleux", 1)
    srv.stop()
    assert os.path.exists(tmp_path / "words.trigrams" / "_SUCCESS")


# -- integration_spec.rb ------------------------------------------------------


def test_single_find_golden_triples(server):
    # integration_spec.rb:31-35
    with client_for(server) as c:
        c.put("paris", 123)
        assert c.find("paris") == [[123, 6, 5]]
        assert c.find("pariis") == [[123, 5, 5]]


def test_put_find_cycles_multi_ref_ordering(server):
    # integration_spec.rb:37-42
    with client_for(server) as c:
        c.put("paris", 123)
        c.put("paris", 456)
        assert [t[0] for t in c.find("paris")] == [123, 456]
        assert [t[0] for t in c.find("pariis")] == [123, 456]


def test_put_delete_find_cycles(server):
    # integration_spec.rb:44-49
    with client_for(server) as c:
        c.put("paris", 123)
        c.put("paris", 456)
        c.delete(456)
        assert [t[0] for t in c.find("paris")] == [123]


def test_multiple_databases_are_isolated(server):
    # integration_spec.rb:51-60
    with client_for(server, "foobar") as c, client_for(server, "qux") as other:
        c.put("rome", 1)
        other.put("venice", 2)
        assert [t[0] for t in c.find("rome")] == [1]
        assert c.find("venice") == []
        assert [t[0] for t in other.find("venice")] == [2]
        assert other.find("rome") == []


def test_save_method_is_sigusr1_parity(server, tmp_path):
    # integration_spec.rb:62-66 (SIGUSR1 => save; the library face is .save())
    with client_for(server) as c:
        c.put("rome", 1)
    server.save()
    assert os.path.exists(tmp_path / "foobar.trigrams" / "_SUCCESS")


def test_request_save_runs_on_saver_thread(server, tmp_path):
    """The SIGUSR1 handler path: request_save() only sets an event; the
    autosave thread performs the save (a save nested on the signaled
    thread's stack could interleave two writes of one snapshot path)."""
    import time

    with client_for(server) as c:
        c.put("milan", 9)
    server.request_save()
    deadline = time.time() + 30
    path = tmp_path / "foobar.trigrams" / "_SUCCESS"
    while time.time() < deadline and not os.path.exists(path):
        time.sleep(0.2)
    assert os.path.exists(path), "deferred save never ran"


def test_uses_existing_maps(spark, server, tmp_path):
    # integration_spec.rb:68-75: a pre-seeded snapshot in the server's
    # directory is served without any PUT
    m = Map(spark)
    m.put("london", 1337)
    m.save(str(tmp_path / "preseeded.trigrams"))
    with client_for(server, "preseeded") as c:
        assert [t[0] for t in c.find("london")] == [1337]


def test_command_stats_count_and_time_each_command(server):
    with client_for(server) as c:
        c.put("paris", 1)
        c.put("paris", 2)
        c.find("paris")
        c.delete(2)
        c.clear()
        with pytest.raises(ClientError):
            c.put("paris", 3, weight=1 << 31)  # refused, still counted
    stats = server.command_stats()
    assert {cmd: s["count"] for cmd, s in stats.items()} == {
        "FIND": 1, "PUT": 3, "DELETE": 1, "CLEAR": 1,
    }
    assert all(s["seconds"] > 0 for s in stats.values())
    stats["FIND"]["count"] = 99  # a copy: the server's counters are read-only
    assert server.command_stats()["FIND"]["count"] == 1


# -- client_spec.rb (validation without touching the wire) --------------------


def test_client_validations_raise_before_connecting():
    c = BlurrilyClient(host="127.0.0.1", port=1, db_name="foobar")  # no server
    with pytest.raises(ValueError):
        c.find("")
    with pytest.raises(ValueError):
        c.find("with\ttab")
    with pytest.raises(ValueError):
        c.find(None)  # type: ignore[arg-type]
    with pytest.raises(ValueError):
        c.find("ok", limit=0)
    with pytest.raises(ValueError):
        c.find("ok", limit=1025)
    with pytest.raises(ValueError):
        c.put("ok", 0)
    with pytest.raises(ValueError):
        c.put("ok", (1 << 31) + 1)
    with pytest.raises(ValueError):
        c.put("ok", 1, weight=-1)
    with pytest.raises(ValueError):
        c.delete("nan")  # type: ignore[arg-type]


def test_server_error_reply_raises_client_error(server):
    # a bad db name passes client-side checks but is refused by the server
    # (command_processor.rb:14); the ERROR envelope surfaces as ClientError
    with client_for(server, db="BAD-DB") as c:
        with pytest.raises(ClientError, match="Invalid database name"):
            c.find("paris")


def test_restarted_server_autosave_still_works(spark, tmp_path):
    """Round-3 ADVICE: stop() left _stopping set, so a restarted server's
    autosave thread exited immediately and request_save()/SIGUSR1 became
    silent no-ops on the second life. start() must reset the lifecycle
    events."""
    import time

    srv = BlurrilyServer(
        spark, host="127.0.0.1", port=0, directory=str(tmp_path), save_interval=3600
    ).start()
    with client_for(srv) as c:
        c.put("rome", 1)
    srv.stop()

    srv.start()  # second life
    try:
        with client_for(srv) as c:
            c.put("oslo", 2)
        srv.request_save()  # must be served by a LIVE autosave thread
        deadline = time.time() + 30
        marker = tmp_path / "foobar.trigrams" / "_SUCCESS"

        def saved_oslo():
            if not marker.exists():
                return False
            try:
                m = Map.load(spark, str(tmp_path / "foobar.trigrams"))
                return [r[0] for r in m.find("oslo")] == [2]
            except Exception:
                return False  # snapshot overwrite in flight; retry

        while time.time() < deadline and not saved_oslo():
            time.sleep(0.2)
        assert saved_oslo(), "request_save() was a no-op on the restarted server"
    finally:
        srv.stop()
