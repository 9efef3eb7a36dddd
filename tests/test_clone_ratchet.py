"""Clone ratchet: no new copy-pasted code in the package.

Scans every non-vendor ``database_scan_spark/**/*.py`` file, keeping
only code lines: blank and ``#`` lines, trailing comments, every line
of a multi-line string literal (docstrings, oracle SQL) and lines that
are only brackets are dropped; the rest are compared stripped. Every
maximal run of at least ``MIN_RUN`` identical consecutive code lines
found at two places is a clone pair, keyed by the top-level function
(or class, or ``<module>``) each copy starts in.

``ALLOWED`` freezes the pairs that remain, each with the reason the
two copies stay apart. A new pair fails the test: fold the copy into
the helper that already exists. A pair that no longer occurs fails
too, so the list only shrinks.
"""

from __future__ import annotations

import ast
import io
import itertools
import re
import tokenize
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "database_scan_spark"
MIN_RUN = 6
_BRACKETS = re.compile(r"^[\[\](){},:]+$")

# (module.function, module.function) -> why the two copies stay apart
ALLOWED: dict[tuple[str, str], str] = {
    ("analytics_extra.analytic_did", "analytics_extra.analytic_event_study"): (
        "promo x year cells differ in their treatment/period columns past the shared join"
    ),
    ("composite.agg_approx", "composite.agg_approx_error_eval"): (
        "the error audit re-states the accuracy checks it evaluates; output columns differ"
    ),
    ("functions_surface.fn_array_ops", "text_analysis.text_tokens"): (
        "two registered surfaces (array functions, tokens) with their own oracles"
    ),
    ("analytics_extra.win_count_distinct", "llm_prep.win_forward_fill"): (
        "running-frame window spec over one user's events; the aggregates differ"
    ),
    ("multimodal._real_decode_batches_fn", "multimodal.src_binary_files"): (
        "executor-side closures pickled by value: each must hold its own code"
    ),
    ("multimodal._image_rowsum_batches_fn", "multimodal._thumbnail_batches_fn"): (
        "executor-side closures pickled by value: each must hold its own code"
    ),
    ("multimodal._edge_density_batches_fn", "multimodal._image_rowsum_batches_fn"): (
        "executor-side closures pickled by value: each must hold its own code"
    ),
    ("multimodal._edge_density_batches_fn", "multimodal._thumbnail_batches_fn"): (
        "executor-side closures pickled by value: each must hold its own code"
    ),
    ("sampling.<module>", "temporal.<module>"): "module import headers",
    ("graph.<module>", "stats_tests.<module>"): "module import headers",
    ("similarity.sim_hard_negatives", "similarity.sim_topk_filtered"): (
        "query/corpus projections of the embeddings table; the join conditions differ"
    ),
    ("stats_tests.analytic_growth_accounting", "stats_tests.analytic_retention_fit"): (
        "distinct user-week relation feeding two different week-over-week tallies"
    ),
    ("storage.sink_clustered_write", "storage.sink_compact_small_files"): (
        "count + checksum read-back aggregate tail of a sink"
    ),
    ("storage.sink_compact_small_files", "storage.sink_zorder_write"): (
        "count + checksum read-back aggregate tail of a sink"
    ),
    ("storage.sink_clustered_write", "storage.sink_zorder_write"): (
        "count + checksum read-back aggregate tail of a sink"
    ),
    ("text_analysis.text_boilerplate_fraction", "text_analysis.text_ngram_novelty"): (
        "per-doc n-gram shingling over different n and token sources"
    ),
    ("stats_tests.pipeline_experiment_readout", "text_analysis.text_zipf_fit"): (
        "least-squares moment sums over different x/y columns"
    ),
    ("graphql_snapshot.make_datasource", "page_stream.make_page_stream_source"): (
        "executor-side DataSource readers built inside factories, pickled by value"
    ),
    ("jsonl_sink.make_jsonl_sink", "jsonl_sink.make_jsonl_stream_sink"): (
        "factory-local imports that keep each sink class pickled by value"
    ),
    ("jobs.stream_sliding", "jobs.stream_tumbling"): (
        "count + sum aggregate tail of a windowed stream; the window specs differ"
    ),
    ("jobs.stream_tumbling", "windows.win_tumbling"): (
        "stream and batch twins checked against one oracle; output projection"
    ),
    ("jobs.stream_session", "windows.win_session"): (
        "stream and batch twins checked against one oracle; output projection"
    ),
    ("jobs.stream_sliding", "windows.win_tumbling"): (
        "stream and batch twins checked against one oracle; output projection"
    ),
    ("jobs._eventtime_deadline_processor", "jobs._proctime_snapshot_processor"): (
        "transform-with-state processor classes, pickled by value"
    ),
}


def _code_lines(path: Path) -> list[tuple[int, str, str]]:
    """(line number, stripped code, owning top-level name) per kept line."""
    src = path.read_text()
    tree = ast.parse(src)
    dropped: set[int] = set()
    for node in ast.walk(tree):
        is_str = isinstance(node, ast.JoinedStr) or (
            isinstance(node, ast.Constant) and isinstance(node.value, str)
        )
        if is_str and node.end_lineno > node.lineno:
            dropped.update(range(node.lineno, node.end_lineno + 1))
    owner: dict[int, str] = {}
    for top in tree.body:
        if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            for ln in range(top.lineno, top.end_lineno + 1):
                owner[ln] = top.name
    comment_at = {
        tok.start[0]: tok.start[1]
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type == tokenize.COMMENT
    }
    kept = []
    for no, text in enumerate(src.splitlines(), 1):
        if no in dropped:
            continue
        text = text[: comment_at.get(no, len(text))].strip()
        if text and not _BRACKETS.match(text):
            kept.append((no, text, owner.get(no, "<module>")))
    return kept


def clone_pairs(pkg: Path = PKG) -> list[tuple[str, str, int]]:
    """Every maximal run of >= MIN_RUN identical code lines at two
    places, as ("file:line module.name", "file:line module.name", run
    length)."""
    files = {
        p: _code_lines(p)
        for p in sorted(pkg.rglob("*.py"))
        if "_vendor" not in p.relative_to(pkg).parts
    }
    windows = defaultdict(list)
    for path, lines in files.items():
        for i in range(len(lines) - MIN_RUN + 1):
            windows[tuple(t for _, t, _ in lines[i : i + MIN_RUN])].append((path, i))
    pairs = []
    for locs in windows.values():
        for (pa, a), (pb, b) in itertools.combinations(locs, 2):
            la, lb = files[pa], files[pb]
            if a and b and la[a - 1][1] == lb[b - 1][1]:
                continue  # not the start of a maximal run
            n = MIN_RUN
            while a + n < len(la) and b + n < len(lb) and la[a + n][1] == lb[b + n][1]:
                n += 1
            if pa == pb and a < b + n and b < a + n:
                continue  # a run overlapping itself
            pairs.append((
                f"{pa.relative_to(ROOT)}:{la[a][0]} {pa.stem}.{la[a][2]}",
                f"{pb.relative_to(ROOT)}:{lb[b][0]} {pb.stem}.{lb[b][2]}",
                n,
            ))
    return pairs


def _key(pair: tuple[str, str, int]) -> tuple[str, str]:
    a, b = sorted(site.split(" ", 1)[1] for site in pair[:2])
    return a, b


def test_no_new_clone_pairs():
    pairs = clone_pairs()
    allowed = {tuple(sorted(k)) for k in ALLOWED}
    new = sorted(p for p in pairs if _key(p) not in allowed)
    assert not new, "copy-pasted code (fold it into one helper):\n" + "\n".join(
        f"  {a}  ==  {b}  ({n} lines)" for a, b, n in new
    )
    stale = allowed - {_key(p) for p in pairs}
    assert not stale, f"allowlisted pairs no longer found, delete them: {sorted(stale)}"
