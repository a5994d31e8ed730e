"""Seeded Claude / ChatGPT export files plus their ground truth.

Files alternate Claude, ChatGPT, Claude, ... Every file after the first
of its platform re-exports about a fifth of that platform's earlier
conversations with one message edited and/or messages appended, so the
upsert path has real replacements to resolve. ChatGPT conversations are
``mapping`` trees: a message-less root, a main chain, and in a quarter
of them a regenerated sibling answer (a real branch).

The truth is kept per message id and per conversation so the checks
can rebuild, after any prefix of the files, what the store must hold:
the latest version of every conversation, the latest text of every
message, and the counts behind the benchmark's SQL set.
"""

from __future__ import annotations

import json
import os
from collections import deque
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np

WORDS = (
    "spark query table export model answer prompt token window join "
    "batch stream vector cache merge parquet schema cluster user reply "
    "draft edit summary topic search index score rank filter data"
).split()
GPT_MODELS = ("gpt-4", "gpt-4o", "gpt-3.5-turbo")
T0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())


@dataclass
class Msg:
    id: str
    sender: str  # "human" | "assistant"
    text: str
    ts: int  # epoch seconds, UTC
    model: str
    parent: str | None = None  # ChatGPT tree parent (node id)


@dataclass
class Conv:
    id: str
    platform: str
    title: str
    created: int
    chain: list[Msg] = field(default_factory=list)
    branch: Msg | None = None  # regenerated sibling of chain[1] (ChatGPT)
    updated: int = 0

    def ordered(self) -> list[Msg]:
        """Messages in the engine's order_index order: array order for
        Claude, BFS from the root for ChatGPT trees."""
        if self.branch is None:
            return list(self.chain)
        kids: dict[str | None, list[Msg]] = {}
        for m in self.chain + [self.branch]:
            kids.setdefault(m.parent, []).append(m)
        out, queue = [], deque(kids.get(f"{self.id}-root", []))
        while queue:
            m = queue.popleft()
            out.append(m)
            queue.extend(kids.get(m.id, []))
        return out


def _text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(WORDS, int(rng.integers(5, 60))))


def _new_conv(rng, platform: str, cid: str) -> Conv:
    created = T0 + int(rng.integers(0, 30 * 86400))
    c = Conv(cid, platform, f"chat {cid}", created)
    root = f"{cid}-root"
    for k in range(int(rng.integers(2, 17))):
        _append(rng, c, root if k == 0 else c.chain[-1].id)
    if platform == "chatgpt" and rng.random() < 0.25:
        first = c.chain[0]
        c.branch = Msg(f"{cid}-r", "assistant", _text(rng), first.ts + 30,
                       str(rng.choice(GPT_MODELS)), parent=first.id)
    c.updated = c.chain[-1].ts
    return c


def _append(rng, c: Conv, parent: str | None) -> None:
    k = len(c.chain)
    sender = "human" if k % 2 == 0 else "assistant"
    ts = (c.chain[-1].ts if c.chain else c.created) + int(rng.integers(5, 600))
    if c.platform == "claude":
        model = "claude"
    else:
        model = str(rng.choice(GPT_MODELS)) if sender == "assistant" else "unknown"
    c.chain.append(Msg(f"{c.id}-m{k}", sender, _text(rng), ts, model, parent))


def _reexport(rng, old: Conv) -> Conv:
    """A later export of ``old``: same ids, one message edited and/or
    1-3 messages appended, title touched."""
    c = Conv(old.id, old.platform, old.title + " (v2)", old.created,
             [Msg(**vars(m)) for m in old.chain],
             Msg(**vars(old.branch)) if old.branch else None)
    mode = rng.integers(0, 3)  # 0 edit, 1 append, 2 both
    if mode != 1:
        m = c.chain[int(rng.integers(0, len(c.chain)))]
        m.text = m.text + " edited " + _text(rng)
    if mode != 0:
        for _ in range(int(rng.integers(1, 4))):
            _append(rng, c, c.chain[-1].id)
    c.updated = c.chain[-1].ts + 60
    return c


def _iso(ts: int) -> str:
    return datetime.fromtimestamp(ts, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _claude_doc(c: Conv) -> dict:
    return {
        "uuid": c.id,
        "name": c.title,
        "created_at": _iso(c.created),
        "updated_at": _iso(c.updated),
        "account": {"uuid": "acct-" + c.id[-1]},
        "summary": "",
        "chat_messages": [
            {"uuid": m.id, "sender": m.sender, "text": m.text,
             "created_at": _iso(m.ts), "attachments": []}
            for m in c.chain
        ],
    }


def _chatgpt_doc(c: Conv) -> dict:
    root = f"{c.id}-root"
    nodes = c.chain + ([c.branch] if c.branch else [])
    mapping = {root: {"id": root, "parent": None, "message": None, "children": []}}
    for m in nodes:
        mapping[m.id] = {
            "id": m.id,
            "parent": m.parent,
            "children": [],
            "message": {
                "id": m.id,
                "author": {"role": "user" if m.sender == "human" else "assistant"},
                "content": {"content_type": "text", "parts": [m.text]},
                "create_time": m.ts,
                "metadata": {"model_slug": m.model} if m.sender == "assistant" else {},
            },
        }
    for m in nodes:
        mapping[m.parent]["children"].append(m.id)
    return {
        "conversation_id": c.id,
        "title": c.title,
        "create_time": c.created,
        "update_time": c.updated,
        "mapping": mapping,
    }


def make_exports(
    seed: int, out_dir: str, n_files: int, convs_per_file: int
) -> tuple[list[str], list[list[Conv]]]:
    """Write ``n_files`` export files; returns (paths, per-file conversation
    versions in file order)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    seen: dict[str, list[Conv]] = {"claude": [], "chatgpt": []}
    paths, files = [], []
    for i in range(n_files):
        platform = "claude" if i % 2 == 0 else "chatgpt"
        pool = seen[platform]
        n_re = min(len(pool), convs_per_file // 5) if pool else 0
        picked = rng.choice(len(pool), n_re, replace=False) if n_re else []
        convs = [_reexport(rng, pool[j]) for j in picked]
        convs += [_new_conv(rng, platform, f"{platform[:2]}{i}-{k}")
                  for k in range(convs_per_file - n_re)]
        for c in convs:  # a re-export replaces its older version in the pool
            pool[:] = [p for p in pool if p.id != c.id] + [c]
        doc = [_claude_doc(c) if platform == "claude" else _chatgpt_doc(c) for c in convs]
        path = os.path.join(out_dir, f"export_{i:02d}_{platform}.json")
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
        paths.append(path)
        files.append(convs)
    return paths, files


def store_truth(files: list[list[Conv]]) -> dict:
    """What the store and the SQL set must show after these files.
    Averages and durations are exact; the engine rounds them to 4
    places."""
    latest: dict[str, Conv] = {}
    for convs in files:
        for c in convs:
            latest[c.id] = c
    msgs = {m.id: m.text for c in latest.values() for m in c.ordered()}
    pairs = 0
    per_conv: dict[str, tuple] = {}
    usage: dict[tuple[str, str], list] = {}
    activity: dict[tuple[str, str], list] = {}
    for c in latest.values():
        ms = c.ordered()
        pairs += sum(
            a.sender == "human" and b.sender == "assistant" for a, b in zip(ms, ms[1:])
        )
        n_h = sum(m.sender == "human" for m in ms)
        ts = [m.ts for m in ms]
        per_conv[c.id] = (len(ms), n_h, len(ms) - n_h, (max(ts) - min(ts)) / 60.0)
        for m in ms:
            day = datetime.fromtimestamp(m.ts, timezone.utc).strftime("%Y-%m-%d")
            for groups, key in ((usage, (c.platform, m.model)), (activity, (c.platform, day))):
                g = groups.setdefault(key, [0, set(), 0])
                g[0] += 1
                g[1].add(c.id)
                g[2] += len(m.text)
    return {
        "titles": {c.id: c.title for c in latest.values()},
        "messages": msgs,
        "pairs": pairs,
        "per_conv": per_conv,
        "usage": {k: (v[0], len(v[1]), v[2] / v[0]) for k, v in usage.items()},
        "activity": {k: (v[0], len(v[1]), v[2] / v[0]) for k, v in activity.items()},
    }
