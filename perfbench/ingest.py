"""Workload ``ingest_upsert``: replay seeded exports into a parquet store.

One op is one export file: ``ingest_file``, ``upsert_parquet`` for
conversations and for messages (``latest_by="order_index"``),
``register_conversation_views`` over the store, and a fixed SQL set
through ``run_sql``, collected. Each pass replays every file, in file
order, into an empty store; the warm-up replays only the first two
files, one per platform, which already run every code path. Outputs are
checked against the generator's ground truth: every column of the SQL
set after every file, and after every pass the latest title of every
conversation and the latest text of every message.
"""

from __future__ import annotations

import os
import shutil
import statistics

from exports import make_exports, store_truth

SQL = {
    "summary_top": (
        "SELECT id, title, message_count, human_messages, assistant_messages, "
        "duration_minutes FROM conversation_summary "
        "ORDER BY message_count DESC, id LIMIT 20"
    ),
    "model_usage": (
        "SELECT platform, model, message_count, conversation_count, "
        "avg_message_length FROM model_usage"
    ),
    "pair_count": "SELECT count(*) AS n FROM message_pairs",
    "activity": (
        "SELECT platform, activity_date, message_count, active_conversations, "
        "avg_message_length FROM time_activity"
    ),
}


def _same(got: list[tuple], want: list[tuple]) -> bool:
    """Row-wise equality; floats within the engine's 4-place rounding."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, float):
                if a is None or abs(a - b) > 5.1e-5:
                    return False
            elif a != b:
                return False
    return True


def _parquet_files(path: str) -> list[str]:
    out = []
    for d, _dirs, files in os.walk(path):
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return out


class Ingest:
    name = "ingest_upsert"
    n_files = 4
    convs_per_file = 150

    def prepare(self, root: str, seed: int, run_dir: str, small: bool) -> None:
        n_files, per_file = (2, 40) if small else (self.n_files, self.convs_per_file)
        self.run_dir = run_dir
        self.paths, files = make_exports(
            seed, os.path.join(run_dir, "exports"), n_files, per_file)
        self.truth = [store_truth(files[: i + 1]) for i in range(n_files)]
        self.export_bytes = sum(os.path.getsize(p) for p in self.paths)
        self.n_msgs = sum(len(c.ordered()) for convs in files for c in convs)
        self.written: dict[int, int] = {}  # pass -> store bytes written
        self.files_at_end: dict[int, int] = {}

    def pass_ops(self, rng, warmup: bool) -> list[int]:
        # replay order is the data's order
        return list(range(2 if warmup else len(self.paths)))

    def platform(self, i: int) -> str:
        return "claude" if i % 2 == 0 else "chatgpt"

    def begin_pass(self, spark, p: int) -> None:
        self.store = os.path.join(self.run_dir, f"store_{p}")
        shutil.rmtree(self.store, ignore_errors=True)
        self.conv_path = os.path.join(self.store, "conversations")
        self.msg_path = os.path.join(self.store, "messages")

    def op(self, spark, tr, i: int, p: int):
        from conversation_analysis_tools_spark.sources.conversations import (
            ingest_file,
            upsert_parquet,
        )
        from conversation_analysis_tools_spark.views import (
            register_conversation_views,
            run_sql,
        )

        self.last = i
        op = f"{i}:{self.platform(i)}"
        with tr.span("sources.ingest", op=op, pass_=p):
            convs, msgs = ingest_file(spark, self.paths[i])
        with tr.span("sources.upsert", op=op, pass_=p):
            upsert_parquet(convs, self.conv_path)
        with tr.span("sources.upsert", op=op, pass_=p):
            upsert_parquet(msgs, self.msg_path, latest_by="order_index")
        with tr.span("views.register", op=op, pass_=p):
            register_conversation_views(
                spark, spark.read.parquet(self.conv_path), spark.read.parquet(self.msg_path))
        out = {}
        with tr.span("views.query", op=op, pass_=p):
            for q, sql in SQL.items():
                df = run_sql(spark, sql)
                with tr.span("exec.collect", op=f"{op}:{q}", pass_=p):
                    out[q] = (df.columns, df.collect())
        return out

    def check(self, i: int, out, p: int) -> list[str]:
        size = sum(os.path.getsize(f) for f in _parquet_files(self.store))
        self.written[p] = self.written.get(p, 0) + size
        t = self.truth[i]
        top = sorted(t["per_conv"].items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]
        want = {
            "pair_count": [(t["pairs"],)],
            "model_usage": sorted(k + v for k, v in t["usage"].items()),
            "activity": sorted(k + v for k, v in t["activity"].items()),
            "summary_top": [(cid, t["titles"][cid], *v) for cid, v in top],
        }
        bad = []
        for q, (_cols, rows) in out.items():
            got = [tuple(str(x) if hasattr(x, "isoformat") else x for x in r) for r in rows]
            if q != "summary_top":
                got.sort()
            if not _same(got, want[q]):
                bad.append(f"file {i} {q}: {len(got)} rows disagree with the exports")
        return bad

    def end_pass(self, spark, p: int) -> list[str]:
        """Latest edit wins: every title and every message text."""
        t = self.truth[self.last]
        titles = {r["id"]: r["title"] for r in spark.read.parquet(self.conv_path).collect()}
        texts = {r["id"]: r["content"]
                 for r in spark.read.parquet(self.msg_path).select("id", "content").collect()}
        self.files_at_end[p] = len(_parquet_files(self.store))
        shutil.rmtree(self.store, ignore_errors=True)
        bad = []
        if titles != t["titles"]:
            bad.append(f"pass {p}: {len(titles)} conversations, want {len(t['titles'])} "
                       "with their latest titles")
        if texts != t["messages"]:
            bad.append(f"pass {p}: {len(texts)} messages, want {len(t['messages'])} "
                       "with their latest text")
        return bad

    def checked_by(self) -> dict[str, list[str]]:
        return {"ground_truth": ["store contents", *SQL]}

    def catalog_calls(self, spark, tr) -> None:
        pass  # the conversation store is read directly, not through catalog

    def extra_layers(self, passes: list[int]) -> dict[str, float]:
        return {
            "sources.write_amp": statistics.median(
                self.written[p] / self.export_bytes for p in passes),
            "sources.store_files": statistics.median(self.files_at_end[p] for p in passes),
        }
