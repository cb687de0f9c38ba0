"""The bench harness's record plumbing, without a Spark session: import
is side-effect free, scaling efficiency is a pure function of its points,
records are append-only, ``--render`` shows the latest record per study,
and no bench-side code declares session config of its own."""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import bench  # noqa: E402


def test_import_starts_no_jvm():
    code = ("import bench\n"
            "from pyspark import SparkContext\n"
            "assert SparkContext._gateway is None\n"
            "assert SparkContext._active_spark_context is None\n")
    p = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode == 0, p.stderr


def test_scaling_efficiency_per_adjacent_pair():
    specs, reduce = bench.scaling("fused", [2, 8, 32])
    assert [s["master"] for s in specs] == ["local[2]", "local[8]",
                                            "local[32]"]
    res = reduce([{"result": {"docs_per_sec": d}}
                  for d in (100.0, 360.0, 1152.0)])
    # (360/100)/(8/2) = 0.9; (1152/360)/(32/8) = 0.8
    assert res == {"docs_per_sec": [100.0, 360.0, 1152.0],
                   "efficiency": {"2to8": 0.9, "8to32": 0.8}}
    assert bench.efficiency([(1, 50.0), (4, 200.0)]) == {"1to4": 1.0}


def test_append_keeps_earlier_lines_byte_identical(tmp_path):
    path = tmp_path / "BENCH.jsonl"
    earlier = b'{"study": "skew", "x": 1}\n{"study": "dedup"}\n'
    path.write_bytes(earlier)
    rec = {"study": "memory", "result": {"b": 2, "a": 1}}
    bench.append_record(str(path), rec)
    data = path.read_bytes()
    assert data.startswith(earlier)
    assert data[len(earlier):] == (json.dumps(rec, sort_keys=True)
                                   + "\n").encode()


def _rec(study, utc, result):
    return {"study": study, "utc": utc, "git": "0123456789abcdef",
            "sf_dir": "/data/sf0.001", "params": [{"master": "local[4]"}],
            "result": result}


def test_render_keeps_latest_record_per_study(tmp_path):
    path = tmp_path / "BENCH.jsonl"
    for rec in (_rec("skew", "2026-01-01T00:00:00+00:00", {"speedup": 1.5}),
                _rec("memory", "2026-01-02T00:00:00+00:00", {"rss": 3}),
                _rec("skew", "2026-01-03T00:00:00+00:00", {"speedup": 2.5})):
        bench.append_record(str(path), rec)
    with open(path) as f:
        table = bench.render(f)
    rows = [r for r in table.splitlines() if r.startswith("| ")][1:]
    assert [r.split("|")[1].strip() for r in rows] == ["memory", "skew"]
    assert "2.5" in rows[1] and "1.5" not in table
    assert "2026-01-03" in rows[1]


def test_bench_code_declares_no_session_config():
    """Bench and product share ``session.get_spark``: a config literal in
    bench-side code is how the two drifted apart before (an 8 vs 24 GB
    heap, a 10 vs 64 MB broadcast threshold).  A runtime comparison would
    test nothing, because ``getOrCreate`` returns one session per
    process."""
    files = [REPO / "bench.py", REPO / "__spark_entry__.py",
             *sorted((REPO / "scripts").glob("*.py"))]
    pat = re.compile(r"\.config\(\s*[\"']spark\.|conf\.set\(")
    hits = [f"{f.name}:{i}" for f in files
            for i, line in enumerate(f.read_text().splitlines(), 1)
            if pat.search(line)]
    assert not hits, hits
    # the other way in is a point spec's extra_conf: only the memory
    # study's independent variables (the Arrow batch row and byte caps)
    # may pass there
    specs = [s for specs, _ in bench.STUDIES.values() for s in specs]
    specs += [s for kind in ("fused", "pixels", "image")
              for s in bench.scaling(kind, [1, 4])[0]]
    extra = {k for s in specs for k in s.get("extra_conf", {})}
    assert extra <= {bench.BATCH_ROWS, bench.BATCH_BYTES}, extra


def test_git_rev_ignores_bench_records(tmp_path, monkeypatch):
    """A study's own append to the tracked ``BENCH.jsonl`` leaves the
    record's rev clean; an edit to tracked code marks it ``-dirty``."""
    def git(*args):
        subprocess.run(["git", "-c", "user.name=t", "-c", "user.email=t@t",
                        *args], cwd=tmp_path, check=True, capture_output=True)
    (tmp_path / "BENCH.jsonl").write_text("")
    (tmp_path / "mod.py").write_text("x = 1\n")
    git("init", "-q")
    git("add", ".")
    git("commit", "-q", "-m", "seed")
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    clean = bench._git_rev()
    assert clean and not clean.endswith("-dirty")
    bench.append_record(str(tmp_path / "BENCH.jsonl"), {"study": "resume"})
    assert bench._git_rev() == clean
    (tmp_path / "mod.py").write_text("x = 2\n")
    assert bench._git_rev() == clean + "-dirty"


def test_source_digest_names_the_package_code(tmp_path, monkeypatch):
    """A record's ``source_sha256`` digests the package sources by
    perfbench's recipe, so a bench record and a perfbench record of the
    same code carry the same digest.  A study's own append to
    ``BENCH.jsonl`` leaves it as it was; an edit to a package file moves
    it."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", REPO / "perfbench" / "run.py")
    perfbench_run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(perfbench_run)
    assert bench._source_sha256() == \
        perfbench_run.source_identity()["source_sha256"]

    pkg = tmp_path / "apple_ocr_backend_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text("x = 1\n")
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    before = bench._source_sha256()
    bench.append_record(str(tmp_path / "BENCH.jsonl"), {"study": "resume"})
    assert bench._source_sha256() == before
    (pkg / "mod.py").write_text("x = 2\n")
    assert bench._source_sha256() != before
