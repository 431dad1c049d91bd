"""Unit tests for the repo's measurement tooling (no SparkSession).

The plan-audit counters and the bench-compare math gate real decisions
(what gets pinned, what counts as a regression), so their parsing is
tested like any operator: against hand-built fixtures with known
answers.
"""

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "scripts"))

from plan_audit import audit_plan  # noqa: E402


SAMPLE_PLAN = """
== Physical Plan ==
AdaptiveSparkPlan (9)
+- HashAggregate (8)
   +- Exchange (7)
      +- HashAggregate (6)
         +- Project (5)
            +- BroadcastHashJoin Inner BuildRight (4)
               :- Filter (2)
               :  +- Scan parquet  (1)
               +- BroadcastExchange (3)
                  +- Scan parquet  (10)

(1) Scan parquet
Output [3]: [a, b, c]
PushedFilters: [IsNotNull(a)]
[codegen id : 1]

(2) Filter
[codegen id : 1]

(3) BroadcastExchange

(4) BroadcastHashJoin
[codegen id : 2]

(6) HashAggregate
[codegen id : 2]

(7) Exchange

(8) HashAggregate
[codegen id : 3]

(10) Scan parquet
Output [1]: [k]
PushedFilters: []
"""


def test_audit_plan_counts_nodes():
    c = audit_plan(SAMPLE_PLAN)
    assert c["scans"] == 2
    # (7) Exchange counts; BroadcastExchange (3) has no "(n) Exchange" header
    assert c["exchanges"] == 1
    assert c["broadcast_hash_joins"] == 1
    assert c["sort_merge_joins"] == 0
    assert c["hash_aggregates"] == 2
    assert c["codegen_spans"] == 3
    assert c["cartesian"] == 0
    assert c["python_row_eval"] == 0
    # one scan has real pushed filters, so the plan qualifies
    assert c["pushed_filters"] is True


def test_audit_plan_flags_red_nodes():
    plan = "(1) CartesianProduct\n(2) BatchEvalPython stuff\n(3) Scan parquet \n"
    c = audit_plan(plan)
    assert c["cartesian"] == 1
    assert c["python_row_eval"] == 1


def test_audit_plan_arrow_is_not_row_eval():
    plan = "(1) ArrowEvalPythonUDTF f(x)\n(2) MapInPandas g\n(3) Scan parquet \n"
    c = audit_plan(plan)
    assert c["python_row_eval"] == 0
    assert c["arrow_evals"] == 2


def _run_compare(tmp_path, old, new):
    a, b = tmp_path / "old.json", tmp_path / "new.json"
    a.write_text(json.dumps(old))
    b.write_text(json.dumps(new))
    out = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "bench_compare.py"), str(a), str(b)],
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout)


def test_bench_compare_median_and_regressions(tmp_path):
    old = {
        "queries": {"q_a": 1.0, "q_b": 2.0},
        "extra_queries": {"q_c": 4.0},
        "value": 3.0,
        "host_load_avg_1m_start": 0.5,
    }
    new = {
        "queries": {"q_a": 1.0, "q_b": 3.0},
        "extra_queries": {"q_c": 4.0},
        "value": 4.0,
        "host_load_avg_1m_start": 0.4,
    }
    r = _run_compare(tmp_path, old, new)
    assert r["n_shared"] == 3
    assert r["median_ratio_new_over_old"] == 1.0
    assert r["regressed_gt_1.25x"] == {"q_b": 1.5}
    assert "median_ratio_cal_normalized" not in r  # no calibration fields


def test_bench_compare_calibration_normalizes(tmp_path):
    # every query 1.2x slower, calibration also 1.2x slower -> normalized 1.0
    old = {"queries": {"q_a": 1.0, "q_b": 2.0}, "value": 3.0, "cpu_cal_s": 0.20}
    new = {"queries": {"q_a": 1.2, "q_b": 2.4}, "value": 3.6, "cpu_cal_s": 0.24}
    r = _run_compare(tmp_path, old, new)
    assert r["median_ratio_new_over_old"] == 1.2
    assert abs(r["median_ratio_cal_normalized"] - 1.0) < 1e-9
    assert r["regressed_gt_1.25x_cal_normalized"] == {}


def test_bench_compare_reads_driver_tail(tmp_path):
    old = {"queries": {"q_a": 1.0}, "value": 1.0}
    new = {
        "parsed": None,
        "tail": '... noise {"q_a": 2.0, "cpu_cal_s": 0.3} '
        '"host_load_avg_1m_start": 1.5}',
    }
    r = _run_compare(tmp_path, old, new)
    assert r["n_shared"] == 1
    assert r["load_start_new"] == 1.5


def test_union_find_labels_min_label_components():
    from check_oracle import _union_find_labels

    # two components: a 4-chain {1,5,9,12} (via transitive edges that
    # arrive in an adversarial order) and a pair {3,7}; labels must be
    # each component's min id regardless of edge order
    pairs = [(9, 12), (5, 9), (12, 1), (3, 7), (1, 5)]
    labels = _union_find_labels(pairs)
    assert labels == {1: 1, 5: 1, 9: 1, 12: 1, 3: 3, 7: 3}


def test_union_find_matches_recursive_cte_at_sf0001():
    """The --py-oracles union-find must reproduce the recursive
    reachability CTE's labels exactly on real data (DuckDB-only — no
    SparkSession): same component count, same min-label per doc."""
    import duckdb

    sys.path.insert(0, str(REPO))
    from check_oracle import _union_find_labels
    from data_ingestor_spark.ext.dedup import _CLUSTER_LABELS_CTE, _CLUSTER_PAIRS_CTES

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    cte = con.sql(
        _CLUSTER_LABELS_CTE + " SELECT id, cluster_id FROM labels"
    ).fetchall()
    pairs = con.sql(
        "WITH " + _CLUSTER_PAIRS_CTES + " SELECT doc_a, doc_b FROM pairs"
    ).fetchall()
    uf = _union_find_labels(pairs)
    assert dict(cte) == uf


def test_priority_window_matches_mechanical_rotation():
    """The committed _PRIORITY must equal the mechanically derived
    oldest-evidence-first window (judge directive r5 #5) — forced
    (changed-this-round) keys first, then oldest driver evidence, ties
    by name — derived AT THE COMMITTED _WINDOW_BASIS, so the driver's
    untracked CORRECTNESS_r{N}.json landing after the final commit
    cannot shift the expectation (r6 judge finding, VERDICT r6 "What's
    wrong" #1). Regenerate with `python scripts/evidence_rotation.py`
    whenever _FORCE_REFRESH changes or a round starts."""
    sys.path.insert(0, str(REPO))
    from evidence_rotation import WINDOW, derive_window

    from data_ingestor_spark.plans.queries import (
        _FORCE_REFRESH,
        _PRIORITY,
        _WINDOW_BASIS,
        REGISTRY,
    )

    derived = derive_window(sorted(REGISTRY), _FORCE_REFRESH, basis=_WINDOW_BASIS)
    assert len(_PRIORITY) == WINDOW
    assert tuple(_PRIORITY) == derived
    # every forced key is actually registered and inside the window
    assert set(_FORCE_REFRESH) <= set(_PRIORITY)


def test_window_derivation_immune_to_future_artifacts(tmp_path):
    """A CORRECTNESS file from a round NEWER than the basis must not
    change the derivation — this is exactly the round-boundary event
    (driver drops its artifact post-commit) that failed the r6 suite."""
    sys.path.insert(0, str(REPO))
    import json

    from evidence_rotation import derive_window

    names = ["q_a", "q_b", "q_c", "q_d"]
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_a": {}, "q_b": {}})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"q_c": {}}))
    at_basis_2 = derive_window(names, (), window=3, repo=str(tmp_path), basis=2)
    # q_d never checked (age 0), then oldest-first: r1 pair, r2 last
    assert at_basis_2 == ("q_d", "q_a", "q_b")
    # a future round-3 artifact arrives (driver post-commit drop) ...
    (tmp_path / "CORRECTNESS_r03.json").write_text(
        json.dumps({"q_a": {}, "q_d": {}})
    )
    # ... and the basis-pinned derivation is unchanged
    assert derive_window(names, (), window=3, repo=str(tmp_path), basis=2) == at_basis_2
    # while an unpinned (basis=3) derivation would differ — the hazard is real
    assert derive_window(names, (), window=3, repo=str(tmp_path), basis=3) != at_basis_2


def test_round_site_inventory_frozen():
    """Change-detector for the cross-engine ROUND hazard class: every
    remaining `F.round(` / `ROUND(` line in the source is either prose
    or rounds a genuinely irrational double (log/sqrt/percentile
    interpolation), where the .5×10⁻ᵏ boundary has measure ~zero. A
    NEW site must never round an integer-ratio double — Spark (HALF_UP
    on the exact decimal) and DuckDB (float multiply) round those apart
    at some SF (proven r5/r6); report exact BIGINT basis points
    (x*10000 div y) instead. If you add a justified new site, update
    the counts here consciously."""
    import glob

    expected = {
        # docstring prose only; +1 r12: q_sql_minhash_pairs' docstring
        # restates the never-ROUND(double) discipline in prose
        "data_ingestor_spark/ext/dedup.py": 2,
        # sqrt dist / float avg; +3 r10: q_sim_ann_pq rounds
        # SUM((x-c)^2)*1e6 to BIGINT micro-units (one Spark _pq_d2i
        # site + two oracle sites) — a sum of squared float differences
        # is never an integer-ratio double, and both engines round the
        # identical left-to-right accumulation
        # +2 r10 continuation: the one IVF-PQ oracle pipeline
        # (_ivfpq_ctes, which every IVF-PQ key's oracle is built from)
        # rounds residual SUM((r-m)^2)*1e6 to BIGINT micro-units at its
        # dv and qd CTEs — the same never-integer-ratio shape as the
        # three PQ sites, both engines rounding the identical
        # left-to-right accumulation; the rest are 3 centroid-ROUND(6)
        # lines (oracle, prose, Spark) and q_kmeans_train's 2 dist rounds
        "data_ingestor_spark/ext/similarity.py": 10,
        # log-based tfidf/logprob + prose; +2 r10 continuation:
        # q_text_bm25 rounds the per-term ln-based score to BIGINT
        # micro-units before the per-doc sum — an ln product is never
        # an integer-ratio double; +2 more for q_text_bm25_batch's
        # identical per-term oracle site (the Spark side reuses one
        # line); +1 r11: _BM25_SPARK_SQL_CTES (the q_sql_bm25 front-
        # door text) restates the SAME per-term ln site in Spark
        # dialect — identical never-integer-ratio shape
        "data_ingestor_spark/ext/text.py": 11,
        # sqrt z / cent casts; +1 r9: q_event_trend oracle divisor now
        # counts successfully quantized rows (same value*100 cents
        # expression as the adjacent site, not an integer-ratio double)
        "data_ingestor_spark/plans/events.py": 8,
        "data_ingestor_spark/plans/relational.py": 21,  # percentile/corr/stddev/ppm recover + cent casts
        "data_ingestor_spark/plans/scalars.py": 2,  # decimal/k proven boundary-free
        "data_ingestor_spark/plans/timeseries.py": 9,  # ROUND(value*100) cent casts
    }
    got = {}
    for f in glob.glob(str(REPO / "data_ingestor_spark/**/*.py"), recursive=True):
        n = 0
        for ln in open(f):
            s = ln.strip()
            if s.startswith("#"):
                continue
            if "F.round(" in s or "ROUND(" in s:
                n += 1
        if n:
            got[str(Path(f).relative_to(REPO))] = n
    assert got == expected, (
        "ROUND site inventory changed - verify no new site rounds an "
        f"integer-ratio double, then update the expected counts: {got}"
    )


# ---------------------------------------------------------------- scaling probe

from scaling_probe import classify  # noqa: E402


def test_classify_linear_growth_not_suspect():
    # overhead-dominated small SFs, ~linear at the top step
    rec = classify([0.2, 0.4, 3.6])
    assert rec["step_ratios"] == [2.0, 9.0]
    assert rec["last_step_log10_slope"] is not None
    assert rec["last_step_log10_slope"] < 1.0
    assert not rec["suspect_superlinear"]


def test_classify_quadratic_growth_flagged():
    # 10x data -> ~70x runtime with a multi-second absolute: quadratic smell
    rec = classify([0.1, 0.5, 35.0])
    assert rec["step_ratios"] == [5.0, 70.0]
    assert rec["suspect_superlinear"]


def test_classify_tiny_absolute_ratio_blowup_is_noise():
    # 20x ratio but 0.4 s absolute: scheduling jitter, not a scale signal
    rec = classify([0.01, 0.02, 0.4])
    assert not rec["suspect_superlinear"]


def test_classify_error_runs_disable_ratios():
    rec = classify([0.1, None, 2.0])
    assert rec["step_ratios"] == [None, None]
    assert rec["last_step_log10_slope"] is None
    assert not rec["suspect_superlinear"]


def test_spark_hash_dump_compare_classifies_keys():
    from spark_hash_dump import compare

    mk = lambda rows, h, err=None: {  # noqa: E731
        "rows": rows, "cols": ["a", "b"], "hash": h, "err": err,
    }
    a = {"results": {
        "q_same": mk(5, "h1"),
        "q_diff": mk(5, "h2"),
        "q_err": mk(None, None, err="boom"),
        "q_only_a": mk(1, "h9"),
    }}
    b = {"results": {
        "q_same": mk(5, "h1"),
        "q_diff": mk(5, "h3"),
        "q_err": mk(4, "h4"),
        "q_only_b": mk(2, "h8"),
    }}
    out = compare(a, b)
    assert out == {
        "n_match": 1, "n_mismatch": 1, "n_err": 1,
        "mismatches": ["q_diff"], "errors": ["q_err"],
    }


def test_spark_hash_dump_compare_row_count_alone_mismatches():
    from spark_hash_dump import compare

    a = {"results": {"k": {"rows": 3, "cols": ["x"], "hash": "h", "err": None}}}
    b = {"results": {"k": {"rows": 4, "cols": ["x"], "hash": "h", "err": None}}}
    assert compare(a, b)["mismatches"] == ["k"]


#: (artifact, the baselines its assembler read, its twins -> where the
#: recorded verdict lives, where the recorded drift list lives)
_INVARIANCE_ROUNDS = [
    ("INVARIANCE_r10.json", ["INVARIANCE_r9.json"], {}, ("vs_r9_dump", "drift_keys")),
    ("INVARIANCE_touched_r11.json", ["INVARIANCE_r10.json"], {}, ("refactored_drift_vs_r10",)),
    (
        "INVARIANCE_touched_r12.json",
        ["INVARIANCE_touched_r11.json", "INVARIANCE_r10.json"],
        {},
        ("refactored_drift",),
    ),
    (
        "INVARIANCE_touched_r13.json",
        ["INVARIANCE_touched_r12.json", "INVARIANCE_r10.json"],
        {"q_sql_ann_nsw=q_sim_ann_nsw": ("sql_twin_identical",)},
        ("refactored_drift",),
    ),
    (
        "INVARIANCE_touched_r13b.json",
        ["INVARIANCE_touched_r11.json"],
        {
            "q_sim_ann_ivfpq_pruned=q_sim_ann_ivfpq": ("twin_identical", "ivfpq_pruned==ivfpq"),
            "q_sql_ann_ivfpq=q_sim_ann_ivfpq": ("twin_identical", "sql_ann_ivfpq==ivfpq"),
            "q_text_bm25_pruned=q_text_bm25": ("twin_identical", "bm25_pruned==bm25"),
            "q_stream_bm25_maintain=q_text_bm25": (
                "twin_identical", "stream_bm25_maintained==bm25",
            ),
            "q_sim_ann_ivfpq_compact=q_sim_ann_ivfpq_delete": (
                "twin_identical", "ivfpq_compact==delete_view",
            ),
        },
        ("refactored_drift",),
    ),
]


def _dig(doc, path):
    for k in path:
        doc = doc[k]
    return doc


@pytest.mark.parametrize(
    "artifact,baselines,twins,drift_path", _INVARIANCE_ROUNDS, ids=[r[0] for r in _INVARIANCE_ROUNDS]
)
def test_hash_dump_compare_reproduces_committed_invariance(
    tmp_path, artifact, baselines, twins, drift_path
):
    """``--compare`` over a committed invariance artifact's own base and
    odd results, with the baselines and twins its per-round assembler
    used, gives that artifact's recorded compare block, drift list and
    twin verdicts."""
    from spark_hash_dump import main

    art = json.loads((REPO / artifact).read_text())
    argv = ["--compare"]
    for side in ("base", "odd"):
        dump = {"meta": art[f"config_{side}"], "results": art[f"results_{side}"]}
        (tmp_path / f"{side}.json").write_text(json.dumps(dump))
        argv.append(str(tmp_path / f"{side}.json"))
    for b in baselines:
        argv += ["--baseline", str(REPO / b)]
    for t in twins:
        argv += ["--twin", t]
    argv += ["--json", str(tmp_path / "out.json")]

    assert main(argv) == 0
    out = json.loads((tmp_path / "out.json").read_text())
    assert out["compare"] == art["compare"]
    assert out["drift"] == _dig(art, drift_path) == []
    assert out["twins"] == {t.replace("=", "=="): _dig(art, p) for t, p in twins.items()}
    assert out["config_base"] == art["config_base"]
    assert out["results_odd"] == art["results_odd"]


def test_hash_dump_compare_fails_on_drift_and_twin(tmp_path):
    """Drift is judged against the FIRST baseline that has the key; a
    key no baseline has is new, not drift; a twin over unequal or
    missing hashes fails; any of these exits 1."""
    from spark_hash_dump import main

    mk = lambda h: {"rows": 1, "cols": ["a"], "hash": h, "err": None}  # noqa: E731
    meta = {"master": "local[2]", "shuffle_partitions": "2"}
    dump = {"meta": meta, "results": {"q_a": mk("h1"), "q_b": mk("h2"), "q_c": mk("h1")}}
    paths = {}
    for name, doc in {
        "base": dump,
        "odd": dump,
        "newer": {"results_base": {"q_a": mk("h1")}},
        "older": {"results_base": {"q_a": mk("stale"), "q_b": mk("h9")}},
    }.items():
        paths[name] = str(tmp_path / f"{name}.json")
        Path(paths[name]).write_text(json.dumps(doc))
    argv = ["--compare", paths["base"], paths["odd"], "--json", str(tmp_path / "o.json")]
    argv += ["--baseline", paths["newer"], "--baseline", paths["older"]]

    assert main(argv + ["--twin", "q_a=q_c"]) == 1
    out = json.loads((tmp_path / "o.json").read_text())
    assert out["drift"] == ["q_b"] and out["new_keys"] == ["q_c"]
    assert out["compare"]["n_match"] == 3
    assert out["twins"] == {"q_a==q_c": True}

    assert main(argv[:5] + ["--twin", "q_a=q_b", "--twin", "q_a=q_gone"]) == 1
    out = json.loads((tmp_path / "o.json").read_text())
    assert out["drift"] == [] and out["twins"] == {"q_a==q_b": False, "q_a==q_gone": False}


def _builder_settings(path: Path, func: str) -> dict:
    """The session builder calls inside ``func`` in ``path``: each
    ``.config(key, value)``, ``.master(...)`` and ``setLogLevel(...)``,
    with the value's source text, plus the env defaults it reads."""
    import ast

    tree = ast.parse(path.read_text())
    fn = next(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == func)
    got = {}
    for node in ast.walk(fn):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        name, args = node.func.attr, node.args
        if name == "config":
            got[args[0].value] = ast.unparse(args[1])
        elif name in ("master", "setLogLevel"):
            got[name] = ast.unparse(args[0])
        elif name == "get" and ast.unparse(node.func.value) == "os.environ" and len(args) == 2:
            got[args[0].value] = ast.unparse(args[1])
    return got


def test_harness_session_matches_bench_builder():
    """Until bench.py builds its session through ``harness``, the two
    builders must set the same keys to the same values."""
    bench = _builder_settings(REPO / "bench.py", "main")
    harness = _builder_settings(REPO / "scripts" / "harness.py", "bench_session")
    bench.pop("SPARK_GRAFT_SF_DIR")
    assert bench == harness
    assert {k for k in harness if k.startswith("spark.")} == {
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.session.timeZone",
        "spark.driver.memory",
        "spark.ui.enabled",
    }


def test_scripts_compile_and_harness_users_import():
    """Every script byte-compiles, and every script that uses the
    shared harness imports, so a dangling import fails here."""
    import importlib
    import py_compile

    users = []
    for path in sorted((REPO / "scripts").glob("*.py")):
        py_compile.compile(str(path), doraise=True, cfile=None, optimize=-1)
        if "from harness import" in path.read_text():
            users.append(path.stem)
    assert set(users) >= {"ab_bench", "opt_profile", "plan_audit", "scaling_probe"}
    for name in users:
        importlib.import_module(name)


def test_package_from_imports_resolve():
    """Every ``from data_ingestor_spark… import name`` in the package,
    the tests, the scripts, perfbench and bench.py — imports inside
    function bodies included — names a module or attribute that exists.
    The registry keys import ``sinks`` and friends lazily inside their
    bodies, so without this a dangling name fails only when that key
    runs."""
    import ast
    import importlib

    sys.path.insert(0, str(REPO))
    files = [REPO / "bench.py"] + [
        p
        for d in ("data_ingestor_spark", "tests", "scripts", "perfbench")
        for p in sorted((REPO / d).rglob("*.py"))
    ]
    checked, dangling = 0, []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module.split(".")[0] == "data_ingestor_spark"
            ):
                continue
            try:
                mod = importlib.import_module(node.module)
            except ModuleNotFoundError:
                dangling.append(f"{path.relative_to(REPO)}:{node.lineno} {node.module}")
                continue
            for alias in node.names:
                checked += 1
                if hasattr(mod, alias.name):
                    continue
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ModuleNotFoundError:
                    dangling.append(f"{path.relative_to(REPO)}:{node.lineno} {node.module}.{alias.name}")
    assert checked > 100
    assert not dangling, dangling


def _package_sites(match) -> list[tuple[str, str]]:
    """``(file, enclosing function)`` of every AST node in
    ``data_ingestor_spark/`` for which ``match(node)`` holds; docstrings
    are not scanned."""
    import ast

    sites = []

    def visit(node, path, func):
        body = getattr(node, "body", None)
        doc = None
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                doc = body[0].value
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if node is not doc and match(node):
            sites.append((path, func))
        for child in ast.iter_child_nodes(node):
            if not (doc is not None and child is body[0]):
                visit(child, path, func)

    for p in sorted((REPO / "data_ingestor_spark").rglob("*.py")):
        visit(ast.parse(p.read_text(), str(p)), str(p.relative_to(REPO)), None)
    return sites


def test_stream_harness_decisions_have_one_owner():
    """The nanosAsLong flag, the memory sink and the wait-for-a-stream
    loop each live in one place, so the per-key copies the registry's
    stream keys used to carry cannot grow back: ``nanosAsLong`` only in
    ``registry.raw_events`` (which restores it), ``format("memory")``
    only in ``timeseries._drain_to_memory``, ``awaitTermination`` only
    in ``streaming.ingest.await_streams`` (``stream_with_deadletter``
    waits through it too). The live-ingest keys in ``plans/ingest.py``
    drain through ``pipeline.run_stream_job``, so no ``foreachBatch``
    drain (``write_stream_batches`` or a direct ``foreachBatch``) may
    come back there. The ingest micro-batch bound lives only in
    ``stream_load`` (``maxBytesPerTrigger``), and no stream archives
    through the file source's ``cleanSource``: ``run_stream_job``
    archives at job end, as the batch job does."""
    import ast

    def strings(word):
        return _package_sites(
            lambda n: isinstance(n, ast.Constant) and isinstance(n.value, str) and word in n.value
        )

    nanos = strings("nanosAsLong")
    memory = _package_sites(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "format"
        and any(isinstance(a, ast.Constant) and a.value == "memory" for a in n.args)
    )
    waits = _package_sites(lambda n: isinstance(n, ast.Attribute) and n.attr == "awaitTermination")
    assert nanos == [("data_ingestor_spark/plans/registry.py", "raw_events")]
    assert memory == [("data_ingestor_spark/plans/timeseries.py", "_drain_to_memory")]
    assert waits == [("data_ingestor_spark/streaming/ingest.py", "await_streams")]
    drain = "write_stream_batches"
    ingest_drains = [
        site
        for site in _package_sites(
            lambda n: (isinstance(n, ast.Attribute) and n.attr in ("foreachBatch", drain))
            or (isinstance(n, ast.Name) and n.id == drain)
            or (isinstance(n, ast.alias) and n.name == drain)
        )
        if site[0] == "data_ingestor_spark/plans/ingest.py"
    ]
    assert ingest_drains == []
    assert strings("maxBytesPerTrigger") == [("data_ingestor_spark/streaming/ingest.py", "stream_load")]
    assert strings("cleanSource") == []


def test_similarity_oracles_are_built_without_str_replace():
    """Every ``@query`` oracle in ``ext/similarity.py`` is assembled from
    CTE-block builders, never by ``str.replace`` on another oracle's
    text: a ``.replace`` whose source text drifts silently does nothing,
    and only a full oracle sweep would notice. The check follows the
    module-level functions and constants an oracle expression names,
    so a ``.replace`` hidden in a builder is caught too."""
    import ast

    tree = ast.parse((REPO / "data_ingestor_spark/ext/similarity.py").read_text())
    defs = {}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            defs[node.name] = node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    defs[t.id] = node.value

    def uses_replace(expr):
        seen, todo = set(), [expr]
        while todo:
            for n in ast.walk(todo.pop()):
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "replace":
                    return True
                if isinstance(n, ast.Name) and n.id in defs and n.id not in seen:
                    seen.add(n.id)
                    todo.append(defs[n.id])
        return False

    oracles = {
        fn.name: kw.value
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        for dec in fn.decorator_list
        if isinstance(dec, ast.Call) and getattr(dec.func, "id", None) == "query"
        for kw in dec.keywords
        if kw.arg == "oracle"
    }
    assert len(oracles) > 30
    assert [name for name, expr in oracles.items() if uses_replace(expr)] == []


def test_perfbench_tracing_patches_resolve_and_restore():
    """Every name ``perfbench/tracing.install`` patches still exists
    where the pipeline looks it up, and ``uninstall`` puts each original
    back, so a change that deletes a traced name fails here rather than
    in a traced benchmark run. The stub tracer's ``wrap`` returns the
    function unchanged, so no SparkSession is needed."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("perfbench_tracing", REPO / "perfbench" / "tracing.py")
    tracing = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracing)

    class StubTracer:
        def wrap(self, name, fn):
            return fn

    saved = tracing.install(StubTracer())
    try:
        assert saved
        for owner, attr, original in saved:
            assert callable(original) and callable(getattr(owner, attr))
    finally:
        tracing.uninstall(saved)
    for owner, attr, original in saved:
        assert getattr(owner, attr) is original


def test_ab_bench_requires_old_rev():
    r = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "ab_bench.py"), "--keys", "q_agg_basic"],
        capture_output=True, text=True,
    )
    assert r.returncode == 2 and "--old-rev" in r.stderr


def test_ab_bench_summarize_min_over_reps_and_ratio():
    from ab_bench import summarize

    reps = [
        {"variant": "old", "queries": {"q_a": 2.0, "q_b": 1.0, "q_gone": 9.0}},
        {"variant": "new", "queries": {"q_a": 1.2, "q_b": 1.1, "q_new": 0.5}},
        {"variant": "old", "queries": {"q_a": 1.6, "q_b": 1.4}},
        {"variant": "new", "queries": {"q_a": 0.8, "q_b": 0.9}},
    ]
    t = summarize(reps)
    # min over reps per variant; keys in only one variant dropped
    assert set(t) == {"q_a", "q_b"}
    assert t["q_a"] == {"old_s": 1.6, "new_s": 0.8, "ratio_new_over_old": 0.5}
    assert t["q_b"]["old_s"] == 1.0 and t["q_b"]["new_s"] == 0.9
    assert t["q_b"]["ratio_new_over_old"] == 0.9


def test_ab_bench_summarize_zero_old_time_yields_null_ratio():
    from ab_bench import summarize

    reps = [
        {"variant": "old", "queries": {"q": 0.0}},
        {"variant": "new", "queries": {"q": 0.1}},
    ]
    assert summarize(reps)["q"]["ratio_new_over_old"] is None


def test_canon_cell_value_normalization():
    import datetime

    from check_oracle import _canon_cell

    assert _canon_cell(None) == "NULL"
    assert _canon_cell(float("nan")) == "NULL"
    # integral doubles normalize to the same repr both engines produce
    assert _canon_cell(45.0) == "45.0"
    assert _canon_cell(45.3) == repr(45.3)
    assert _canon_cell(True) == "1" and _canon_cell(False) == "0"
    assert _canon_cell(b"\x00\xff") == "00ff"
    assert _canon_cell(datetime.date(2026, 8, 14)) == "2026-08-14"
    assert (
        _canon_cell(datetime.datetime(2026, 8, 14, 1, 2, 3))
        == "2026-08-14T01:02:03"
    )


def test_canon_cell_rejects_driver_unhashable_types():
    from decimal import Decimal

    import pytest as _pytest

    from check_oracle import _canon_cell

    with _pytest.raises(TypeError, match="DecimalType"):
        _canon_cell(Decimal("45.30"))
    for bad in ([1, 2], (1, 2), {"k": 1}):
        with _pytest.raises(TypeError, match="array/map"):
            _canon_cell(bad)


def test_canonical_sorts_columns_and_rows_like_the_driver():
    import numpy as np
    import pandas as pd

    from check_oracle import canonical

    a = pd.DataFrame({"b": [2, 1], "a": ["y", "x"]})
    # same data, different column and row order must hash identically
    b = pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})
    na, ca, ha = canonical(a)
    nb, cb, hb = canonical(b)
    assert (na, ca) == (2, ["a", "b"]) and (na, ca, ha) == (nb, cb, hb)
    # numpy scalars unwrap to plain python before stringification
    c = pd.DataFrame({"a": ["x", "y"], "b": np.array([1, 2], dtype=np.int64)})
    assert canonical(c) == (na, ca, ha)
    # NaT and None both canonicalize to NULL
    d1 = pd.DataFrame({"t": [pd.NaT]})
    d2 = pd.DataFrame({"t": [None]})
    assert canonical(d1)[2] == canonical(d2)[2]


def test_parse_json_flag_accepts_both_spellings():
    from check_oracle import parse_json_flag

    out, rest = parse_json_flag(["/sf", "--json", "out.json", "q_a"])
    assert out == "out.json" and rest == ["/sf", "q_a"]
    out, rest = parse_json_flag(["/sf", "--json=out.json", "q_a"])
    assert out == "out.json" and rest == ["/sf", "q_a"]
    out, rest = parse_json_flag(["/sf", "q_a"])
    assert out is None and rest == ["/sf", "q_a"]


def test_parse_json_flag_missing_value_is_usage_error():
    """--json as the final token must raise a clear usage error, not
    IndexError (ADVICE r6)."""
    import pytest

    from check_oracle import parse_json_flag

    with pytest.raises(SystemExit, match="--json OUT"):
        parse_json_flag(["/sf", "--json"])


def test_atomic_dump_json_replaces_not_truncates(tmp_path):
    """Artifact flushes go through temp-file + os.replace: the target is
    either the old complete JSON or the new complete JSON, never a
    partial write, and no temp file is left behind (ADVICE r6)."""
    import json

    from check_oracle import atomic_dump_json

    out = tmp_path / "artifact.json"
    atomic_dump_json(str(out), {"complete": False, "n": 1})
    assert json.loads(out.read_text()) == {"complete": False, "n": 1}
    atomic_dump_json(str(out), {"complete": True, "n": 2})
    assert json.loads(out.read_text()) == {"complete": True, "n": 2}
    assert list(tmp_path.iterdir()) == [out]
