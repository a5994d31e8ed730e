"""The option rule: an engine parameter with a default exists only
where callers need more than one value.

An AST scan over every non-test caller (the package, ``tools/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py``) collects the
value each call passes for each defaulted parameter; an omitted
argument is the default. A call inside ``g`` that hands ``g``'s own
parameter through counts as ``g``'s default when that parameter is
itself one-valued (a fixpoint over the call graph). Calls resolve by
name, so a name defined twice in the package is skipped.

In scope are ``operators/``, ``functions/``, ``streaming/``,
``pipeline.py`` and ``queries/streaming._stage_ordered_docs``. Every
defaulted parameter there that every caller leaves at its default must
be in ``SEAMS`` with the reason it stays; anything else is a constant
in disguise.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "conversation_analysis_tools_spark"

_GATE = "tests force each branch of an adaptive gate with it"
_QUERY = "defines what the query asks"

#: ``function.parameter`` -> why the one-valued parameter stays.
SEAMS = {
    "cross_corpus_minhash_pairs.collapse": _GATE,
    "minhash_cluster_members.collapse": _GATE,
    "duplicate_pairs.strategy": _GATE,
    "ngram_jaccard_pairs.route": _GATE,
    "tuned_lsh_pairs.max_bucket": _GATE,
    "remove_boilerplate_lines.skew_safe": _GATE,
    "remove_duplicate_spans.skew_safe": _GATE,
    "substring_span_stats.skew_safe": _GATE,
    "skyline.global_cap": _GATE,
    "skyline.stripes": _GATE,
    "build_bloom.m_bits": "sizes the filter; tests force false-positive rates with it",
    "build_bloom.k": "sizes the filter; tests force false-positive rates with it",
    "might_contain.m_bits": "must match the build_bloom that made the bitset",
    "might_contain.k": "must match the build_bloom that made the bitset",
    "bloom_prefilter.m_bits": "sizes the filter; tests force false-positive rates with it",
    "bloom_prefilter.k": "sizes the filter; tests force false-positive rates with it",
    "cross_corpus_minhash_pairs.threshold": _QUERY,
    "embedding_dup_pairs.threshold": _QUERY,
    "near_duplicates_of.threshold": _QUERY,
    "stream_neardup_dedup.threshold": _QUERY,
    "int8_brute_force_topk.k": _QUERY,
    "ivf_topk.k": _QUERY,
    "lsh_topk.k": _QUERY,
    "pq_topk.k": _QUERY,
    "summarize_documents.k": _QUERY,
    "summarize_top_k.k": _QUERY,
    "session_aggregate.gap": _QUERY,
    "sessionize_with_state.gap_minutes": _QUERY,
    "sliding_counts.width": _QUERY,
    "sliding_counts.slide": _QUERY,
    "tumbling_counts.width": _QUERY,
    "simhash_pairs.max_hamming": _QUERY,
    "remove_duplicate_spans.width": _QUERY,
    "substring_span_stats.width": _QUERY,
    "edit_distance_pairs.max_chars": _QUERY,
    "tfidf_embeddings.vocab_size": _QUERY,
    "embedding_dup_pairs.block_col": _QUERY,
}


def _sources():
    paths = [os.path.join(ROOT, f) for f in ("bench.py", "__spark_entry__.py")]
    for base in (PKG, "tools", "perfbench"):
        for d, _, names in os.walk(os.path.join(ROOT, base)):
            paths += [os.path.join(d, n) for n in names
                      if n.endswith(".py") and not n.startswith("test_")]
    return {os.path.relpath(p, ROOT): ast.parse(open(p).read()) for p in sorted(paths)}


def _in_scope(rel, name):
    return (rel.startswith((f"{PKG}/operators/", f"{PKG}/functions/",
                            f"{PKG}/streaming/"))
            or rel == f"{PKG}/pipeline.py"
            or (rel == f"{PKG}/queries/streaming.py" and name == "_stage_ordered_docs"))


def _value(expr):
    """A comparable token for a literal or an UPPER_CASE constant, else None."""
    try:
        return ("lit", repr(ast.literal_eval(expr)))
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        pass
    name = getattr(expr, "id", None) or getattr(expr, "attr", None)
    return ("const", name) if name and name.isupper() else None


class _Fn:
    def __init__(self, rel, node, method):
        a = node.args
        pos = a.posonlyargs + a.args
        self.rel, self.node, self.method = rel, node, method
        self.pos = [x.arg for x in pos]
        self.defaults = {x.arg: d for x, d in
                         zip(pos[len(pos) - len(a.defaults):], a.defaults)}
        self.defaults.update({x.arg: d for x, d in zip(a.kwonlyargs, a.kw_defaults)
                              if d is not None})


def _functions(trees):
    defs = defaultdict(list)

    def visit(rel, node, method):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[ch.name].append(_Fn(rel, ch, method))
                visit(rel, ch, False)
            else:
                visit(rel, ch, isinstance(ch, ast.ClassDef) or method)

    for rel, tree in trees.items():
        if rel.startswith(PKG):
            visit(rel, tree, False)
    return {n: v[0] for n, v in defs.items() if len(v) == 1}


def _passed_values(trees, fns):
    """(function, parameter) -> the value token of every call site."""
    raw = defaultdict(list)

    def call(node, enclosing):
        f = node.func
        name = getattr(f, "id", None) or getattr(f, "attr", None)
        fn = fns.get(name)
        if fn is None:
            return
        pos = fn.pos[1:] if fn.method and isinstance(f, ast.Attribute) else fn.pos
        star = any(isinstance(a, ast.Starred) for a in node.args)
        kwstar = any(k.arg is None for k in node.keywords)
        kws = {k.arg: k.value for k in node.keywords if k.arg}
        outer = set()
        if enclosing is not None:
            a = enclosing.args
            outer = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
        for p in fn.defaults:
            if p in kws:
                e = kws[p]
            elif not star and p in pos and pos.index(p) < len(node.args):
                e = node.args[pos.index(p)]
            elif star or kwstar:
                raw[(name, p)].append(("unknown", id(node)))
                continue
            else:
                raw[(name, p)].append(("default",))
                continue
            if isinstance(e, ast.Name) and e.id in outer and enclosing.name in fns:
                raw[(name, p)].append(("pass", enclosing.name, e.id))
            else:
                raw[(name, p)].append(_value(e) or ("unknown", id(e)))

    def walk(node, enclosing):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(ch, ch)
                continue
            if isinstance(ch, ast.Call):
                call(ch, enclosing)
            walk(ch, enclosing)

    for tree in trees.values():
        walk(tree, None)
    return raw


def one_valued():
    """Sorted ``function.parameter`` names in scope that every non-test
    caller leaves at the default."""
    trees = _sources()
    fns = _functions(trees)
    raw = _passed_values(trees, fns)

    def default(n, p):
        return _value(fns[n].defaults[p]) or ("expr", n, p)

    one = {(n, p) for n, f in fns.items() for p in f.defaults}
    while True:
        keep = set()
        for n, p in one:
            d = default(n, p)
            if all(v[0] == "default"
                   or (v[0] == "pass" and (v[1], v[2]) in one and default(v[1], v[2]) == d)
                   or v == d
                   for v in raw[(n, p)]):
                keep.add((n, p))
        if keep == one:
            return sorted(f"{n}.{p}" for n, p in one if _in_scope(fns[n].rel, n))
        one = keep


def test_one_valued_parameters_are_constants():
    offenders = [name for name in one_valued() if name not in SEAMS]
    assert not offenders, (
        f"{len(offenders)} parameters have one value at every caller; make "
        "them constants or list them in SEAMS with a reason:\n  "
        + "\n  ".join(offenders))


def test_seams_name_live_parameters():
    """A SEAMS entry outlives its reason once its parameter is gone or
    callers pass it more than one value."""
    stale = sorted(set(SEAMS) - set(one_valued()))
    assert not stale, f"SEAMS entries that are not one-valued parameters: {stale}"
