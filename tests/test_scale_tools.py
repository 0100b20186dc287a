"""Scale-tooling units: the volume-scaled shuffle-partition policy
(session.shuffle_partitions_for) and the Zipf-hot-key fixture generator
(gen_scale_fixture.generate_skew) that feeds tools/bench_skew.py."""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

from t20_database_etl_pipeline_assignment_spark.session import shuffle_partitions_for

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)

from gen_scale_fixture import generate_skew  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_policy_floor_at_small_sf():
    # sf0.001 / sf0.01 / sf0.1 are all far below 16 * 32 MB — policy floor
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        assert shuffle_partitions_for(f"/root/testdata/{sf}") == 16


def test_policy_matches_measured_sf10_remedy(tmp_path):
    # synthesize a directory whose parquet payload is ~1.8 GB without
    # writing it: policy reads sizes only, so sparse files suffice
    f = tmp_path / "lineitem.parquet"
    with open(f, "wb") as fh:
        fh.truncate(1_800_000_000)
    assert shuffle_partitions_for(str(tmp_path)) == 64


def test_policy_capped_and_missing_dir():
    assert shuffle_partitions_for("/nonexistent/path") == 16


def test_policy_cap_at_huge_volume(tmp_path):
    f = tmp_path / "big.parquet"
    with open(f, "wb") as fh:
        fh.truncate(64 * (32 << 20) * 1024)  # far past the cap
    assert shuffle_partitions_for(str(tmp_path)) == 1024


def test_generate_skew_remaps_exactly_one_in_five(tmp_path):
    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "skew")
    generate_skew(src, dst, hot_every=5)

    orig = pq.read_table(os.path.join(src, "orders.parquet"))
    skew = pq.read_table(os.path.join(dst, "orders.parquet"))
    assert skew.num_rows == orig.num_rows
    # non-key columns byte-identical; orderkeys unchanged
    assert skew.column("o_orderkey").equals(orig.column("o_orderkey"))
    assert skew.column("o_totalprice").equals(orig.column("o_totalprice"))

    hot = pc.min(orig.column("o_custkey")).as_py()
    ok = orig.column("o_orderkey").to_pylist()
    old = orig.column("o_custkey").to_pylist()
    new = skew.column("o_custkey").to_pylist()
    for k, a, b in zip(ok, old, new):
        assert b == (hot if k % 5 == 0 else a)
    # the hot key owns >= 20% (its own original orders plus the remap)
    share = sum(1 for v in new if v == hot) / len(new)
    assert share >= 0.2

    # referential integrity: hot key exists in the (copied) customer dim
    cust = pq.read_table(os.path.join(dst, "customer.parquet"))
    assert hot in set(cust.column("c_custkey").to_pylist())

    # every other table is a byte-for-byte copy
    for t in ("customer", "lineitem", "nation"):
        a = open(os.path.join(src, f"{t}.parquet"), "rb").read()
        b = open(os.path.join(dst, f"{t}.parquet"), "rb").read()
        assert a == b, t


def test_resume_fingerprint_invalidates_changed_code(tmp_path):
    """A --resume carry is only valid while the operator source AND oracle
    SQL are byte-identical to what produced the record: same inputs give a
    stable fingerprint, and changing either side changes it (so the record
    re-runs instead of silently skipping re-proof of edited code)."""
    from drive_contract import query_fingerprint

    def op_a():
        return 1

    def op_b():
        return 2

    fp1 = query_fingerprint("q", op_a, "SELECT 1")
    assert fp1 == query_fingerprint("q", op_a, "SELECT 1")  # stable
    assert fp1 != query_fingerprint("q", op_b, "SELECT 1")  # code changed
    assert fp1 != query_fingerprint("q", op_a, "SELECT 2")  # oracle changed


def test_resume_fingerprint_covers_helpers_and_core(monkeypatch):
    """Round-8 widening: the fingerprint also covers the operator's
    defining module (shared helpers/constants like corpus_shingles /
    _SCRUB_DF) and the non-operator package core (exprs/registry/sources),
    so a helper edit can't leave a stale-but-green carry. Simulated by
    perturbing the cached module/core hashes — the real hashes come from
    the source files themselves."""
    import drive_contract as dc

    def op():
        return 1

    fp1 = dc.query_fingerprint("q", op, "SELECT 1")
    monkeypatch.setitem(dc._CORE_FP_CACHE, op.__module__, "edited-module")
    fp2 = dc.query_fingerprint("q", op, "SELECT 1")
    assert fp1 != fp2  # same-module helper edit invalidates
    monkeypatch.delitem(dc._CORE_FP_CACHE, op.__module__)
    monkeypatch.setitem(dc._CORE_FP_CACHE, "core", "edited-core")
    fp3 = dc.query_fingerprint("q", op, "SELECT 1")
    assert fp1 != fp3  # core helper (exprs/registry/sources) edit invalidates


def test_resume_carries_records_given_a_relative_fixture_path(tmp_path, monkeypatch):
    """--resume matches the fixture by absolute path: a relative sf_dir
    argument carries the ok records of an artifact that recorded the
    absolute one, and another fixture carries none."""
    import json

    from drive_contract import resumable_records

    fixture = tmp_path / ".scale_fixtures" / "sf1"
    fixture.mkdir(parents=True)
    artifact = tmp_path / "CONTRACT.json"
    artifact.write_text(json.dumps({"sf_dir": str(fixture), "queries": {
        "q1": {"status": "ok", "fp": "a"}, "q2": {"status": "fail", "fp": "b"},
    }}))
    monkeypatch.chdir(tmp_path)
    assert resumable_records(str(artifact), ".scale_fixtures/sf1") == {
        "q1": {"status": "ok", "fp": "a"}
    }
    assert resumable_records(str(artifact), "./.scale_fixtures/sf1/") == {
        "q1": {"status": "ok", "fp": "a"}
    }
    assert resumable_records(str(artifact), ".scale_fixtures/sf10") == {}
    assert resumable_records(str(tmp_path / "missing.json"), str(fixture)) == {}


def test_contract_artifacts_carry_current_fingerprints():
    """The committed contract artifacts must be resumable as-is: every 'ok'
    record's fingerprint matches the CURRENT registry, so --resume carries
    it; any operator/oracle edit after a recording fails this test until
    the artifact is regenerated (no stale-but-green carries at HEAD)."""
    import json

    import __spark_entry__ as ep
    from drive_contract import query_fingerprint

    qs, oracles = ep.queries(), ep.oracle_sql()
    fps = {q: query_fingerprint(q, qs[q], oracles.get(q, "")) for q in qs}
    for name in ("CONTRACT_r09.json", "CONTRACT_sf1.json"):
        path = os.path.join(REPO, name)
        if not os.path.exists(path):
            continue
        with open(path) as f:
            d = json.load(f)
        stale = [q for q, r in d["queries"].items()
                 if r.get("status") == "ok" and q in fps and r.get("fp") != fps[q]]
        assert not stale, f"{name}: stale green records for {stale[:5]}..."


def test_bench_tool_query_lists_resolve_in_registry():
    """Every name in the scaling/bench tools' query lists must be a
    registered query id: a typo in SF10_SPOT otherwise surfaces only as a
    drive_contract failure at the END of a multi-hour sf10 run."""
    import __spark_entry__ as ep
    from bench_scaling import HEADLINE, SF10_HEADLINE, SF10_SPOT, SPOT_QUERIES, WARM

    registered = set(ep.queries())
    for label, names in (
        ("HEADLINE", HEADLINE),
        ("SF10_HEADLINE", SF10_HEADLINE),
        ("SF10_SPOT", SF10_SPOT),
        ("SPOT_QUERIES", SPOT_QUERIES),
        ("WARM", WARM),
    ):
        missing = sorted(set(names) - registered)
        assert not missing, f"bench_scaling.{label} names not in registry: {missing}"


def test_plan_report_showcase_resolves_in_registry():
    import __spark_entry__ as ep
    from plan_report import SHOWCASE

    registered = set(ep.queries())
    missing = sorted({q for q, _ in SHOWCASE} - registered)
    assert not missing, f"plan_report.SHOWCASE names not in registry: {missing}"


def test_committed_contract_artifacts_are_complete():
    """A committed CONTRACT_*.json must be a FINISHED run, not a mid-run
    checkpoint: round 9's end-of-round snapshot committed a 155/269
    checkpoint of CONTRACT_r09.json because drive_contract was still
    running when the snapshot fired (drive_contract checkpoints after
    every query so a crash is resumable — good for resume, wrong to
    commit). Every tracked artifact must record a result for every
    targeted query, all green."""
    import json
    import subprocess

    tracked = subprocess.run(
        ["git", "ls-files", "CONTRACT_*.json"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.split()
    assert tracked, "no tracked contract artifacts found"
    for name in tracked:
        with open(os.path.join(REPO, name)) as f:
            d = json.load(f)
        assert d["n_passed"] == d["n_queries"] == len(d["queries"]), (
            f"{name} is a partial/failing checkpoint: "
            f"{d['n_passed']}/{d['n_queries']} with {len(d['queries'])} records"
        )
        assert not d["fails"], f"{name} committed with fails: {d['fails']}"


def test_fingerprints_are_checkout_portable(tmp_path):
    """Contract fingerprints must not depend on WHERE the repo is checked
    out (judge r9 advice: absolute paths in the md5 made artifacts
    recorded at /root/repo read as 100% stale anywhere else). Copy the
    fingerprinted tree to a tmp checkout and require identical hashes."""
    import shutil
    import subprocess

    import drive_contract as dc

    pkg = "t20_database_etl_pipeline_assignment_spark"
    shutil.copytree(
        os.path.join(REPO, pkg), tmp_path / pkg,
        ignore=shutil.ignore_patterns("__pycache__", "*.pyc"),
    )
    shutil.copy(os.path.join(REPO, "__spark_entry__.py"), tmp_path)
    (tmp_path / "tools").mkdir()
    shutil.copy(os.path.join(REPO, "tools", "drive_contract.py"),
                tmp_path / "tools")
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1] + '/tools')\n"
         "import drive_contract as dc\n"
         "print(dc._package_core_hash())\n"
         "print(dc._module_hash(sys.argv[1] + "
         f"'/{pkg}/operators/llm.py'))",
         str(tmp_path)],
        capture_output=True, text=True, check=True,
    ).stdout.split()
    here = [dc._package_core_hash(),
            dc._module_hash(os.path.join(REPO, pkg, "operators", "llm.py"))]
    assert out == here, f"checkout-dependent fingerprints: {out} vs {here}"


def test_non_query_modules_stay_out_of_query_import_closure():
    """The contract fingerprint leaves drive_contract.NON_QUERY_MODULES out
    of its package-core hash. That is sound only while no query can run
    their code. The import closure walked from the package __init__ (every
    query module's import runs it), __spark_entry__.py, registry.py and
    every query-defining module (`from`/`import`/`import_module` forms)
    may reach them only through the package __init__'s eager submodule
    import, which binds a name; no closure module may touch that name as
    an attribute (`t20.pipeline.x`); and their own top level may run only
    imports, definitions, constants and logger lookups, so loading them
    cannot change a query."""
    import ast
    import inspect

    import __spark_entry__ as ep
    import drive_contract as dc

    pkg = os.path.join(REPO, "t20_database_etl_pipeline_assignment_spark")
    init = os.path.join(pkg, "__init__.py")
    excluded = {os.path.join(pkg, n) for n in dc.NON_QUERY_MODULES}
    stems = {os.path.splitext(n)[0] for n in dc.NON_QUERY_MODULES}
    roots = {init, os.path.join(REPO, "__spark_entry__.py"), os.path.join(pkg, "registry.py")}
    roots |= {inspect.getsourcefile(sys.modules[fn.__module__])
              for fn in ep.queries().values()}
    todo, seen, edges_in = set(roots), set(), set()
    while todo:
        f = todo.pop()
        seen.add(f)
        deps = dc.module_deps(f)
        if deps & excluded:
            edges_in.add(f)
        todo |= deps - excluded - seen
    assert len(seen) > 20
    assert edges_in <= {init}, sorted(edges_in)

    for f in sorted(seen):
        with open(f) as fh:
            tree = ast.parse(fh.read())
        used = [n.lineno for n in ast.walk(tree)
                if isinstance(n, ast.Attribute) and n.attr in stems]
        assert not used, f"{f} reaches a non-query module at lines {used}"

    def allowed_call(node):
        return ast.unparse(node.func) == "logging.getLogger"

    for f in sorted(excluded):
        with open(f) as fh:
            body = ast.parse(fh.read()).body
        for node in body:
            if isinstance(node, (ast.Import, ast.ImportFrom, ast.FunctionDef, ast.ClassDef)):
                continue
            if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
                continue  # docstring
            assert isinstance(node, (ast.Assign, ast.AnnAssign)), (f, node.lineno)
            calls = [c for c in ast.walk(node) if isinstance(c, ast.Call)]
            assert all(allowed_call(c) for c in calls), (f, node.lineno)


def test_tools_import_without_starting_spark():
    """Every tool and bench.py compiles and imports without starting a
    SparkContext: a tool that rots after a refactor of what it imports, or
    a new module-level session, fails here rather than on its next rare
    run."""
    import glob
    import subprocess

    paths = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    paths.append(os.path.join(REPO, "bench.py"))
    code = (
        "import importlib.util, os, sys\n"
        "from pyspark import SparkContext\n"
        "sys.path[:0] = [os.path.dirname(sys.argv[1]), os.getcwd()]\n"
        "for p in sys.argv[1:]:\n"
        "    name = os.path.splitext(os.path.basename(p))[0]\n"
        "    spec = importlib.util.spec_from_file_location(name, p)\n"
        "    mod = importlib.util.module_from_spec(spec)\n"
        "    sys.modules[name] = mod\n"
        "    spec.loader.exec_module(mod)\n"
        "    assert SparkContext._active_spark_context is None, p\n"
        "print('imported', len(sys.argv) - 1)\n"
    )
    out = subprocess.run([sys.executable, "-c", code, *paths], cwd=REPO,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-1] == str(len(paths))
