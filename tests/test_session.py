"""The session-scoped memo (session.scope/memo/clear): build-once per key,
every scope dropped on an applicationId switch, and clear()."""

from __future__ import annotations

from types import SimpleNamespace

from airflow_etl_elt_spark import session


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_memo_builds_once_per_key_and_drops_scopes_on_app_switch(monkeypatch):
    monkeypatch.setattr(session, "_SCOPES", {})
    monkeypatch.setattr(session, "_app_id", None)
    builds = []

    def build(key):
        def _b():
            builds.append(key)
            return f"v{key}"

        return _b

    a, b = _fake_spark("app-a"), _fake_spark("app-b")
    assert session.memo(a, "x", 1, build(1)) == "v1"
    assert session.memo(a, "x", 1, build(1)) == "v1"
    assert session.memo(a, "x", 2, build(2)) == "v2"
    assert session.memo(a, "y", 1, build(1)) == "v1"
    assert builds == [1, 2, 1]
    assert session.memo(a, "z", "none", lambda: None) is None
    assert session.memo(a, "z", "none", build("again")) is None  # None is a value

    # a new applicationId drops EVERY scope, not just the one asked for
    assert session.scope(b, "y") == {}
    assert session.scope(b, "x") == {}
    assert session.memo(b, "x", 1, build(1)) == "v1"
    assert builds == [1, 2, 1, 1]
    # spark=None reads the current application's scope without a switch
    assert session.scope(None, "x") == {1: "v1"}

    session.clear()
    assert session.scope(b, "x") == {}
    assert session.memo(b, "x", 1, build(1)) == "v1"
    assert builds == [1, 2, 1, 1, 1]


def test_memo_concurrent_first_use_keeps_every_entry(monkeypatch):
    """Threads that meet a new applicationId together (Pipeline.fan_out
    steps) switch the memo once and lose no entry to each other."""
    import sys
    import threading

    monkeypatch.setattr(session, "_SCOPES", {})
    monkeypatch.setattr(session, "_app_id", "app-old")
    session.scope(_fake_spark("app-old"), "s")["stale"] = 1
    app = _fake_spark("app-new")
    errors = []

    def work(t):
        try:
            for k in range(200):
                key = (t * 7 + k) % 50
                if session.memo(app, "s", key, lambda: key * 2) != key * 2:
                    errors.append((t, key))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert session.scope(app, "s") == {k: k * 2 for k in range(50)}
