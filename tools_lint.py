"""Registry-wide plan lint: physical hazards + hard-broadcast-hint audit.

Run: ``python tools_lint.py [query ...]`` — sweeps every registered batch
query (or just the named ones) through ``plans/linter.lint_plan`` (executed
physical plan) and ``plans/linter.lint_hints`` (analyzed logical plan),
prints findings, and exits non-zero iff any ERROR-severity finding appears
outside the declared expected set, or an expected entry is stale: its
query was linted and raised no such finding, or no query of that name is
registered. A stale entry would silently exempt the query from the gate
the day it regresses. Streaming twins are skipped: they run
real micro-batches on call and carry no join hints (their state discipline
is covered by tests/test_streaming*.py). Two source lints run first and
fail the same way: CKPT_RAW/CONF_RAW (raw checkpoint or conf wiring
outside its owner) and DEAD_DEF (a package definition nothing but tests
calls).

This is the round ritual complement to tools_scale_check.py: the scale
sweep catches super-linear RUNTIME, this catches hazardous PLANS (the
forced-broadcast class that is invisible at sf0.1 and OOMs at 100x —
VERDICT r5 item 3) the round they land.
"""

from __future__ import annotations

import ast
import collections
import os
import pathlib
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ohlc_spark_streaming_spark import build_session  # noqa: E402
from ohlc_spark_streaming_spark.plans.linter import (  # noqa: E402
    lint_hints,
    lint_output_schema,
    lint_plan,
)
from ohlc_spark_streaming_spark.registry import ORACLES, QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_LINT_SF_DIR", "/root/testdata/sf0.001")

#: (query, code) pairs that are DELIBERATE and documented — each entry
#: must cite where the bounded-ness argument lives.
EXPECTED = {
    # Faithful reference-parity mode: collect_list IS the semantics under
    # test (reference main.py:153-158); tests/test_plan_linter.py asserts
    # the linter flags it.
    ("ohlc_candles_faithful", "COLLECT_LIST"),
    # Per-doc shingle/token SETS bounded by document length, not group
    # cardinality (operators/dedup.py, tests/test_registry_oracle.py notes).
    ("dedup_minhash_lsh", "COLLECT_LIST"),
    ("dedup_jaccard_ppjoin", "COLLECT_LIST"),
    ("dedup_containment", "COLLECT_LIST"),
    ("dedup_clusters", "COLLECT_LIST"),
    ("dedup_clusters_star", "COLLECT_LIST"),
    ("dedup_cross_source", "COLLECT_LIST"),
    ("dedup_hybrid_pairs", "COLLECT_LIST"),
    ("minhash_recall_audit", "COLLECT_LIST"),
    # Vocab-bounded or k-bounded collects (documented at the call sites).
    ("embedding_quantize_int8", "COLLECT_LIST"),
    ("user_event_type_sets", "COLLECT_LIST"),
    ("map_functions_battery", "COLLECT_LIST"),
    ("basket_part_pairs", "COLLECT_LIST"),
    # Identical-content collapse groups: the members array is bounded by
    # the duplication multiplicity of ONE distinct text/vector/name — the
    # documented boundary of operators/dedup._set_groups (if a corpus has
    # million-fold boilerplate, the PAIR SEMANTICS are the problem; run
    # exact dedup first).
    ("embedding_near_dup", "COLLECT_LIST"),
    # Same boundary: the (cell, vector) collapse groups' members array
    # is bounded by one distinct vector's duplication multiplicity —
    # operators/similarity.py::semantic_dedup_cells.
    ("dedup_semantic_cells", "COLLECT_LIST"),
    ("fuzzy_match_parts", "COLLECT_LIST"),
    ("split_leakage_audit", "COLLECT_LIST"),
    ("dedup_survivorship", "COLLECT_LIST"),
    ("dedup_incremental_probe", "COLLECT_LIST"),
    # Bounded by a declared schema dimension, not group cardinality:
    # #labels rows (centroid assign), order width ≤ 7 lines (TPC-H
    # basket), per-order status vocabulary, the scalar-battery demo rows.
    ("embedding_centroid_assign", "COLLECT_LIST"),
    # Whitening stats row: the collect is over the 64 PER-DIM moment
    # rows (embedding dimensionality, a schema constant), folded into
    # one broadcast row — queries/llm.py::_whitened_embeddings.
    ("embedding_whiten", "COLLECT_LIST"),
    ("embedding_whiten_ivf", "COLLECT_LIST"),
    ("json_roundtrip_lines", "COLLECT_LIST"),
    ("string_agg_statuses", "COLLECT_LIST"),
    ("array_functions", "COLLECT_LIST"),
    # Bounded by the declared _ENC_PREFIX=24 slice: only the first 24
    # tokens per doc are posexploded, so the per-doc collect holds ≤24
    # (pos, id) structs — queries/llm.py::q_token_id_encode.
    ("token_id_encode", "COLLECT_LIST"),
    # Per-doc MERGED span array: ≤ n_tokens/(K+1)+1 structs — bounded by
    # document length like the shingle-set collects, never by corpus
    # cardinality (queries/analytics.py::q_dedup_span_cut).
    ("dedup_span_cut", "COLLECT_LIST"),
    # Same boundary, suffix-exact extents: the merged-span array is
    # bounded by n_tokens/(threshold+1)+1 structs per doc
    # (queries/analytics.py::q_dedup_span_cut_suffix).
    ("dedup_span_cut_suffix", "COLLECT_LIST"),
    # Same boundary again, eval-shared extents: merged islands per
    # TRAIN doc, ≤ n_tokens/(threshold+1)+1 structs
    # (queries/analytics.py::q_decontaminate_cut).
    ("decontaminate_cut", "COLLECT_LIST"),
    # Same boundary, catalog-phrase spans: the per-doc span array is
    # bounded by that doc's occurrences of the 20 catalog phrases
    # (≤ n_tokens positions, in practice a handful); the per-SOURCE
    # aggregate deliberately avoids the list — sum/xor rolling-hash
    # checksums, O(1) state (queries/analytics.py::q_boilerplate_cut).
    ("boilerplate_cut", "COLLECT_LIST"),
    # Composes the clustering (shingle-set collects, doc-length-bounded)
    # and the span cut above; every collect inherits those boundaries
    # (queries/analytics.py::q_corpus_curation_report).
    ("corpus_curation_report", "COLLECT_LIST"),
    # Deliberate Python-execution exhibit: the UDTF demonstrates the
    # lateral-join surface OFF the hot path (queries/llm.py docstring).
    ("udtf_token_positions", "ROW_PYTHON"),
    # Boundary list: collect of the 9 interior decile maxima (bucket
    # count is a query constant) folded into one broadcast array —
    # queries/relational.py::q_equidepth_bin_apply.
    ("equidepth_bin_apply", "COLLECT_LIST"),
    # Composes jaccard_ppjoin_pairs: per-doc shingle-set collects,
    # doc-length-bounded like the rest of the dedup family —
    # queries/llm.py::q_simhash_recall_audit.
    ("simhash_recall_audit", "COLLECT_LIST"),
}


#: Files allowed to mention checkpointLocation / checkpoint mkdtemp:
#: the helper module that OWNS the cleanup contract, the persistent
#: CheckpointManager topology (recovery semantics — intentionally not
#: ephemeral), and the sink builders (caller-owned durable locations).
CKPT_ALLOWED = {
    "streaming/checkpoints.py",
    "streaming/app.py",
    "sinks/kafka.py",
}
#: The one file allowed to name the checkpoint file manager conf.
CKPT_MANAGER_OWNER = "streaming/checkpoints.py"
#: The one file allowed to write session confs (scoped_confs,
#: apply_engine_confs).
CONF_OWNER = "session.py"


def lint_checkpoint_hygiene() -> list[tuple[str, str, str]]:
    """Source lint (CKPT_RAW): any raw ``checkpointLocation`` option or
    checkpoint-prefixed mkdtemp outside the allowlist is an error —
    query code must route through streaming/checkpoints.py's
    ephemeral_checkpoint / fold_stream so the leak fix of c09363f
    stays structural rather than per-site (VERDICT r9 item 8). Naming
    ``checkpointFileManagerClass`` anywhere but streaming/checkpoints.py
    is an error too: ``stream_start`` alone picks the manager.

    CONF_RAW: a ``conf.set(`` / ``conf.unset(`` outside session.py is an
    error — a conf changed for a block goes through
    ``session.scoped_confs``, which restores it even when the block
    raises."""
    pkg = pathlib.Path(__file__).parent / "ohlc_spark_streaming_spark"
    bad: list[tuple[str, str, str]] = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for ln, line in enumerate(path.read_text().splitlines(), 1):
            raw_opt = "checkpointLocation" in line
            raw_dir = "mkdtemp" in line and "ckpt" in line
            raw_manager = "checkpointFileManagerClass" in line
            if (rel not in CKPT_ALLOWED and (raw_opt or raw_dir)) or (
                rel != CKPT_MANAGER_OWNER and raw_manager
            ):
                bad.append(
                    (
                        rel,
                        "CKPT_RAW",
                        f"{rel}:{ln}: raw checkpoint wiring — use "
                        "streaming/checkpoints.py helpers",
                    )
                )
            if rel != CONF_OWNER and (
                "conf.set(" in line or "conf.unset(" in line
            ):
                bad.append(
                    (
                        rel,
                        "CONF_RAW",
                        f"{rel}:{ln}: raw session conf write — use "
                        "session.scoped_confs",
                    )
                )
    return bad


#: Package definitions that no engine code calls, each kept on purpose.
#: An entry that gains a caller, or whose definition is gone, is stale.
DEAD_DEF_ALLOWED = {
    "kafka_stream_writer": "the paper's Kafka sink (reference main.py:208-216)",
    "kafka_batch_reader": "the paper's Kafka source; the env-gated "
    "live-broker test reads back with it",
    "observed": "ROADMAP item 4 wires it into streaming/app.build_app",
    "release_caches": "tests count the caches it releases",
    "tws_interarrival_gaps": "the reference a test compares the registered "
    "MapState variant against",
    "OHLC_COLUMNS": "the candle output contract tests/test_ohlc.py asserts",
    "TABLE_NAMES": "the tables tests/oracle_utils.py mounts in DuckDB; "
    "perfbench/registry_mix.py and tools_verify.py check results through it",
}


def _top_level_defs(tree: ast.Module):
    """(name, node) per top-level function, class and module constant,
    except ``@register(...)`` queries (the registry is their caller)."""
    for st in tree.body:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                for d in st.decorator_list
            ):
                yield st.name, st
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            for t in targets:
                for e in t.elts if isinstance(t, ast.Tuple) else [t]:
                    if isinstance(e, ast.Name) and not e.id.startswith("__"):
                        yield e.id, st


def lint_dead_defs() -> list[tuple[str, str, str]]:
    """Source lint (DEAD_DEF): a top-level package function, class or
    module constant whose name is referenced nowhere outside its own
    body is an error. References (names, attributes, imports) count
    across the package, ``perfbench/``, ``bench.py``,
    ``__spark_entry__.py`` and ``tools_*.py`` — not ``tests/``: code
    that only its own tests call is weight, not engine. A stale
    ``DEAD_DEF_ALLOWED`` entry is an error too."""
    root = pathlib.Path(__file__).parent
    pkg = root / "ohlc_spark_streaming_spark"
    files = [
        *pkg.rglob("*.py"),
        *(root / "perfbench").rglob("*.py"),
        root / "bench.py",
        root / "__spark_entry__.py",
        *root.glob("tools_*.py"),
    ]
    defs: list[tuple[str, int, str]] = []
    refs: collections.Counter[str] = collections.Counter()
    for path in sorted(files):
        tree = ast.parse(path.read_text())
        own: dict[int, set[str]] = collections.defaultdict(set)
        if pkg in path.parents:
            for name, node in _top_level_defs(tree):
                defs.append((path.relative_to(pkg).as_posix(), node.lineno, name))
                for n in ast.walk(node):
                    own[id(n)].add(name)
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                ref = n.id
            elif isinstance(n, ast.Attribute):
                ref = n.attr
            elif isinstance(n, ast.alias):
                ref = n.name.rpartition(".")[2]
            else:
                continue
            if ref not in own.get(id(n), ()):
                refs[ref] += 1
    bad = [
        (rel, "DEAD_DEF", f"{rel}:{ln}: {name} has no caller outside tests")
        for rel, ln, name in defs
        if not refs[name] and name not in DEAD_DEF_ALLOWED
    ]
    defined = {name for _, _, name in defs}
    bad += [
        (
            "tools_lint.py",
            "DEAD_DEF",
            f"stale DEAD_DEF_ALLOWED entry {name}: "
            + ("it has a caller" if refs[name] else "no such definition"),
        )
        for name in sorted(DEAD_DEF_ALLOWED)
        if refs[name] or name not in defined
    ]
    return bad


def main() -> int:
    names = sys.argv[1:] or [
        n
        for n in QUERIES
        if not n.startswith(("streaming_", "pyds_stream"))
    ]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    spark = build_session(app_name="engine-lint")
    bad: list[tuple[str, str, str]] = []
    fired: set[tuple[str, str]] = set()
    for name, code, msg in lint_checkpoint_hygiene() + lint_dead_defs():
        bad.append((name, code, msg))
        print(f"[lint] ERROR {name} {code}: {msg}")
    for i, name in enumerate(names, 1):
        df = QUERIES[name](spark, SF_DIR)
        findings = lint_plan(df) + lint_hints(df)
        if name in ORACLES:
            # Driver-compat schema gate: oracle-backed outputs are value-
            # hashed by the driver, whose canonicalizer cannot hash
            # nested columns (r8 token_id_encode red).
            findings += lint_output_schema(df)
        for sev, code, msg in findings:
            if sev != "error":
                continue
            if (name, code) in EXPECTED:
                fired.add((name, code))
                continue
            bad.append((name, code, msg))
            print(f"[lint] ERROR {name} {code}: {msg}")
        if i % 25 == 0:
            print(f"[lint] ... {i}/{len(names)}")
    spark.stop()
    stale = sorted(
        (name, code)
        for name, code in EXPECTED - fired
        if name in names or name not in QUERIES
    )
    for name, code in stale:
        print(f"[lint] STALE {name} {code}: expected finding did not fire")
    print(
        f"[lint] {len(names)} queries: {len(bad)} unexpected error(s), "
        f"{len(fired)} expected/documented finding(s), "
        f"{len(stale)} stale expected entr{'y' if len(stale) == 1 else 'ies'}"
    )
    return 1 if bad or stale else 0


if __name__ == "__main__":
    raise SystemExit(main())
