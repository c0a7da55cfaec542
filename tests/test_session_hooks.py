"""Session lifecycle hooks (mn-slaved hook.c analog): the
session-complete hook runs between the 'hook' and 'done' session
states (client.c:470-486 nol_session transitions), the cleanup hook
runs at engine close (main.c:230), command-string hooks get the
session info as NOL_* env vars, and unknown hook names are rejected
(hook.c:59)."""

import pytest

from methanol_web_crawler_spark.config import default_config
from methanol_web_crawler_spark.plans.crawl import SparkCrawler
from methanol_web_crawler_spark.plans.hooks import SessionHooks
from methanol_web_crawler_spark.sources.synthweb import generate_web


def _crawl(spark, tmp_path, hooks):
    web = generate_web(n_docs=40, n_hosts=3, seed=5)
    c = SparkCrawler(
        spark, web.to_spark(spark), default_config(),
        politeness_budget=0, state_dir=str(tmp_path), hooks=hooks,
    )
    stats = c.run(web.seeds)
    return c, stats


class TestSessionHooks:
    def test_callable_hook_and_state_transitions(self, spark, tmp_path):
        seen_info = {}

        def on_done(info):
            seen_info.update(info)

        c, stats = _crawl(
            spark, tmp_path, SessionHooks(session_complete=on_done)
        )
        assert seen_info["fetched"] == stats.fetched
        assert seen_info["rounds"] == stats.rounds
        assert seen_info["session_id"] == c._session_id
        rows = (
            c.store.table("sessions").read_until(spark)
            .orderBy("rounds").collect()
        )
        states = [r["state"] for r in rows]
        assert states[0] == "running"
        assert states[-2:] == ["hook", "done"]
        assert len({r["session_id"] for r in rows}) == 1
        types = dict(c.store.table("sessions").read_until(spark).dtypes)
        assert [types[k] for k in ("rounds", "fetched", "seen")] == [
            "int", "bigint", "bigint"
        ]

    def test_shell_hook_gets_nol_env(self, spark, tmp_path):
        out = tmp_path / "hook_out.txt"
        hooks = SessionHooks(
            session_complete=(
                f'echo "$NOL_SESSION_ID $NOL_FETCHED" > {out}'
            )
        )
        c, stats = _crawl(spark, tmp_path / "st", hooks)
        sid, fetched = out.read_text().split()
        assert sid == c._session_id
        assert int(fetched) == stats.fetched

    def test_cleanup_on_close(self, spark, tmp_path):
        calls = []
        hooks = SessionHooks(cleanup=lambda info: calls.append(info))
        c, stats = _crawl(spark, tmp_path, hooks)
        assert calls == []  # cleanup is the SHUTDOWN hook, not done
        c.close()
        assert len(calls) == 1
        # no session-complete hook registered -> no 'hook' state row
        states = [
            r["state"]
            for r in c.store.table("sessions")
            .read_until(spark).collect()
        ]
        assert "hook" not in states and "done" in states

    def test_unknown_hook_rejected(self):
        with pytest.raises(ValueError):
            SessionHooks().invoke("no-such-hook")
