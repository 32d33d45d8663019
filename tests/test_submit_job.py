"""The spark-submit deploy surface: jobs/submit_encode.py + the --py-files zip.

The north rule requires the engine to run via `spark-submit --py-files` at
two cluster sizes; these tests pin the pieces that make that work without
paying a subprocess JVM spin-up per test: the argparse contract, the
pipeline body against an injected session (the same code path spark-submit
drives), the resume-on-resubmit checkpoint behavior, and the deterministic
--py-files packaging. The real `spark-submit --master local[N]` invocation
is exercised out-of-band and recorded in BENCH/BASELINE.md."""

import importlib.util
import os
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_job():
    spec = importlib.util.spec_from_file_location(
        "submit_encode", os.path.join(REPO, "jobs", "submit_encode.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_parser_contract():
    job = _load_job()
    args = job.build_parser().parse_args(
        ["--input", "/x", "--output", "/y", "--phases", "encode", "--no-resume"]
    )
    assert args.input == "/x" and args.output == "/y"
    assert args.no_resume and args.synth_scale is None
    with pytest.raises(SystemExit):
        job.build_parser().parse_args(["--input", "/x"])  # --output required


def test_pipeline_body_and_resume(spark, tmp_path):
    job = _load_job()
    out_dir = str(tmp_path / "enc")
    args = job.build_parser().parse_args(
        ["--synth-scale", "0.005", "--output", out_dir]
    )
    res = job.run_pipeline(spark, args)
    assert res["verify_pass"] is True
    assert res["chunks"] > 0 and res["chunks_skipped_resume"] == 0
    assert res["compressed_bytes"] > 0
    assert set(res["phases"]) == {"encode", "decode", "verify"}
    # resubmit with the same --output: lineage checkpoint skips every chunk
    res2 = job.run_pipeline(spark, args)
    assert res2["chunks_skipped_resume"] == res["chunks"]
    assert res2["verify_pass"] is True

    with pytest.raises(SystemExit):
        bad = job.build_parser().parse_args(
            ["--synth-scale", "0.005", "--output", out_dir, "--phases", "nope"]
        )
        job.run_pipeline(spark, bad)


def test_pyfiles_zip_deterministic(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        import make_pyfiles
    finally:
        sys.path.pop(0)
    z1 = make_pyfiles.build(str(tmp_path / "a.zip"))
    z2 = make_pyfiles.build(str(tmp_path / "b.zip"))
    assert open(z1, "rb").read() == open(z2, "rb").read()
    names = zipfile.ZipFile(z1).namelist()
    assert "tokenlake/__init__.py" in names
    assert "tokenlake/codecs/intcodecs.py" in names
    assert not any("__pycache__" in n or n.endswith(".pyc") for n in names)


def test_inherit_master_reuses_submit_session(spark):
    # master="" must not pin a master — under spark-submit the session config
    # carries the submitted master and getOrCreate attaches to it. With the
    # test session live, the inherit path must come back with ITS master
    # untouched rather than forcing the library default over it.
    from tokenlake.session import get_spark

    s = get_spark(master="")
    assert s.sparkContext.master == spark.sparkContext.master == "local[4]"


@pytest.mark.parametrize(
    "var,value",
    [
        ("SPARK_GRAFT_CPUS", "four"),
        ("SPARK_GRAFT_CPUS", "0"),
        ("TOKENLAKE_MAX_PARTITION_BYTES", "32 MB"),
        ("TOKENLAKE_MAX_PARTITION_BYTES", "-1"),
        ("TOKENLAKE_DRIVER_MEM", "lots"),
        ("TOKENLAKE_DRIVER_MEM", "1.5g"),
    ],
)
def test_get_spark_rejects_malformed_env_by_name(monkeypatch, var, value):
    # the check runs before any session is built or reused
    from tokenlake.session import get_spark

    monkeypatch.setenv(var, value)
    with pytest.raises(ValueError, match=var):
        get_spark()
