"""session.prepare() on a session that refuses some confs."""

from __future__ import annotations

import warnings

from datapipeline_scraping_spark import session


class _Conf:
    def __init__(self, refused):
        self.refused = refused
        self.set_keys = {}

    def set(self, k, v):
        if k in self.refused:
            raise RuntimeError(f"Cannot modify the value of a static config: {k}")
        self.set_keys[k] = v


class _Session:
    def __init__(self, refused):
        self.conf = _Conf(refused)


def test_prepare_warns_once_per_refused_key_and_never_raises(monkeypatch):
    monkeypatch.setattr(session, "_UNSET_WARNED", set())
    refused = "spark.sql.session.timeZone"
    stub = _Session({refused})
    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("always")
        assert session.prepare(stub) is stub
        session.prepare(stub)
    msgs = [str(w.message) for w in got if w.category is RuntimeWarning]
    assert len(msgs) == 1 and refused in msgs[0]
    # every other key is still applied
    assert set(stub.conf.set_keys) == set(session._RUNTIME_CONF) - {refused}
