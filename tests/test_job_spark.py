"""Spark job tests: golden per-turn equality (the north_rule gate),
resume idempotency, ordering, skew balance, partitioning invariance
(SURVEY.md §5.2 items 1/3/5)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from extractor import checkpoint, job
from tests.conftest import GOLDEN_INPUT, GOLDEN_OUTPUT


@pytest.fixture(scope="module")
def extracted(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("extract") / "out")
    stats = job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=16)
    assert stats["turns_out"] > 0
    return out


def _rows_to_plain(obj):
    """Spark Row / numpy / list / dict -> plain python for JSON compare."""
    import numpy as np

    if hasattr(obj, "asDict"):
        return {k: _rows_to_plain(v) for k, v in obj.asDict().items()}
    if isinstance(obj, dict):
        return {k: _rows_to_plain(v) for k, v in obj.items()}
    if isinstance(obj, np.ndarray):
        return [_rows_to_plain(v) for v in obj.tolist()]
    if isinstance(obj, np.generic):
        return obj.item()
    if isinstance(obj, (list, tuple)):
        return [_rows_to_plain(v) for v in obj]
    return obj


def test_golden_per_turn_equality(spark, extracted):
    """100% per-turn text equality vs frozen goldens under stable
    (conv_id, turn_idx) ordering — the BASELINE.json north_rule gate."""
    got = job.read_extracted(spark, extracted).toPandas()
    exp = pd.read_parquet(GOLDEN_OUTPUT).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got["conv_id"].values == exp["conv_id"].values).all()
    assert (got["turn_idx"].values == exp["turn_idx"].values).all()
    # byte equality of extracted text, every turn
    assert (got["clean_text"].values == exp["clean_text"].values).all()
    assert (got["n_refs"].to_numpy() == exp["n_refs"].to_numpy()).all()
    # full structural equality of refs (raw, spans, bbox, detector, fields)
    got_refs = [json.dumps(_rows_to_plain(r), sort_keys=True) for r in got["refs"]]
    assert got_refs == list(exp["refs_json"].values)


def test_output_is_ordered(spark, extracted):
    got = job.read_extracted(spark, extracted).toPandas()
    keys = list(zip(got["conv_id"], got["turn_idx"]))
    assert keys == sorted(keys)


def test_resume_idempotent(spark, tmp_path):
    """Kill after wave 1 -> rerun -> identical table (S9/S10)."""
    full = str(tmp_path / "full")
    part = str(tmp_path / "part")
    job.run_extract(spark, GOLDEN_INPUT, full, n_buckets=12)
    s1 = job.run_extract(spark, GOLDEN_INPUT, part, n_buckets=12,
                         wave_buckets=3, max_waves=2)
    assert s1["waves"] == 2
    committed = checkpoint.read_committed(os.path.join(part, "_checkpoint"))
    assert len(committed) == 6
    s2 = job.run_extract(spark, GOLDEN_INPUT, part, n_buckets=12)
    assert s2["skipped_committed"] == 6
    a = job.read_extracted(spark, full).toPandas()
    b = job.read_extracted(spark, part).toPandas()
    assert (a["clean_text"].values == b["clean_text"].values).all()
    assert (a["conv_id"].values == b["conv_id"].values).all()


def test_rerun_is_noop(spark, extracted):
    s = job.run_extract(spark, GOLDEN_INPUT, extracted, n_buckets=16)
    assert s["waves"] == 0 and s["skipped_committed"] == 16


def test_checkpoint_counters_match_output(spark, extracted):
    got = job.read_extracted(spark, extracted).toPandas()
    ck = checkpoint.read_committed(os.path.join(extracted, "_checkpoint"))
    assert sum(r["turns_out"] for r in ck.values()) == len(got)
    assert sum(r["refs_out"] for r in ck.values()) == int(got["n_refs"].sum())


def test_salting_splits_hot_conversation(spark):
    """The skew gate: one conversation holds ~30% of turns; salted
    bucketing must spread it so no bucket exceeds 3x the median
    (the reference's pool.apply failure mode, SURVEY.md §5.2 item 5)."""
    df = job.read_transcripts(spark, GOLDEN_INPUT)
    n_buckets = 16
    sizes = (
        df.withColumn(
            "bucket",
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n_buckets)).cast("int"))
        .groupBy("bucket").count().toPandas()["count"]
    )
    assert len(sizes) == n_buckets
    assert sizes.max() <= 3 * sizes.median()


def test_partitioning_invariance(spark, tmp_path):
    """Output independent of bucket count / input partitioning
    (SURVEY.md §5.2 item 3: ordering invariance)."""
    out4 = str(tmp_path / "b4")
    out32 = str(tmp_path / "b32")
    job.run_extract(spark, GOLDEN_INPUT, out4, n_buckets=4)
    job.run_extract(spark, GOLDEN_INPUT, out32, n_buckets=32)
    a = job.read_extracted(spark, out4).toPandas()
    b = job.read_extracted(spark, out32).toPandas()
    assert (a["clean_text"].values == b["clean_text"].values).all()
    assert (a["n_refs"].to_numpy() == b["n_refs"].to_numpy()).all()


def test_found_notfound_anti_join(spark, extracted):
    produced = job.read_extracted(spark, extracted)
    requested = job.read_transcripts(spark, GOLDEN_INPUT)
    missing = job.found_notfound(requested, produced)
    # all input turns have text -> nothing missing
    assert missing.count() == 0
    # ask for a key that was never produced
    ghost = requested.select("conv_id", "turn_idx").limit(1).withColumn(
        "turn_idx", F.lit(999_999))
    assert job.found_notfound(ghost, produced).count() == 1


def test_conversation_report(spark, extracted):
    rep = job.conversation_report(job.read_extracted(spark, extracted)).toPandas()
    got = job.read_extracted(spark, extracted).toPandas()
    assert rep["n_turns"].sum() == len(got)
    hot = rep[rep["conv_id"] == "conv-hot-000000"]["n_turns"].iloc[0]
    assert hot >= 0.25 * len(got)  # skew fixture present


def test_sigkill_mid_run_then_resume(tmp_path):
    """Hard-crash semantics: SIGKILL a separate driver process midway
    through a many-wave run (no cleanup code runs, JVM dies), then
    resume in a fresh process — the converged table must equal an
    uninterrupted run's. This is the north-rule resume claim with a
    real kill, not the simulated max_waves interruption."""
    import signal
    import subprocess
    import sys
    import time as _time

    from extractor.core.batch import extract_batch
    from extractor.gen_fixtures import write_transcripts_parquet

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp = str(tmp_path / "t.parquet")
    write_transcripts_parquet(inp, 600, seed=11)
    out = str(tmp_path / "out")

    driver = (
        "import sys; sys.path.insert(0, {repo!r})\n"
        "from extractor import job\n"
        "spark = job.get_spark('kill9', master='local[2]', shuffle_partitions=8,\n"
        "                      extra_conf={{'spark.ui.enabled': 'false'}})\n"
        "job.run_extract(spark, {inp!r}, {out!r}, n_buckets=12, wave_buckets=2)\n"
    ).format(repo=repo, inp=inp, out=out)
    proc = subprocess.Popen([sys.executable, "-c", driver],
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    ckpt = os.path.join(out, "_checkpoint", "manifest.json")
    deadline = _time.time() + 240
    while _time.time() < deadline:  # wait for >=1 committed wave
        if os.path.exists(ckpt) and checkpoint.read_committed(
                os.path.join(out, "_checkpoint")):
            break
        if proc.poll() is not None:
            break
        _time.sleep(0.2)
    if proc.poll() is None:
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=60)
    committed_before = len(checkpoint.read_committed(os.path.join(out, "_checkpoint")))
    assert committed_before >= 1, "driver finished before it could be killed"

    # resume in a fresh subprocess (clean JVM, as a restarted job would)
    resume = driver.replace("kill9", "resume9").replace(
        "job.run_extract", "stats = job.run_extract") + \
        "assert stats['skipped_committed'] >= 1, stats\nprint('RESUMED', stats)\n"
    r = subprocess.run([sys.executable, "-c", resume],
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]

    got = (pd.read_parquet(os.path.join(out, "data"))
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    oracle = (extract_batch(pd.read_parquet(inp))
              .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert len(got) == len(oracle)
    assert (got["clean_text"].values == oracle["clean_text"].values).all()


def test_empty_input_table(spark, tmp_path):
    """A zero-row input (or an all-committed resume wave) must run to
    a committed empty output, not die on schema inference over a bare
    directory."""
    inp = str(tmp_path / "empty.parquet")
    pd.DataFrame({
        "conv_id": pd.Series([], dtype=object),
        "turn_idx": pd.Series([], dtype="int32"),
        "role": pd.Series([], dtype=object),
        "text": pd.Series([], dtype=object),
        "tool": pd.Series([], dtype=object),
        "ts": pd.Series([], dtype="datetime64[us]"),
    }).to_parquet(inp)
    out = str(tmp_path / "out")
    stats = job.run_extract(spark, inp, out, n_buckets=4)
    assert stats["turns_out"] == 0 and stats["waves"] == 1
    assert job.read_extracted(spark, out).count() == 0
    assert len(checkpoint.read_committed(os.path.join(out, "_checkpoint"))) == 4


def test_null_key_rows_dropped_cleanly(spark, tmp_path):
    """Rows violating the declared non-null key contract are dropped
    at the scan (previously they NPE'd the partitioned writer); valid
    rows still extract, and the drop is visible via found_notfound."""
    inp = str(tmp_path / "nulls.parquet")
    pd.DataFrame({
        "conv_id": ["c1", None, "c2"],
        "turn_idx": pd.array([0, 1, 0], dtype="int32"),
        "role": ["user"] * 3,
        "text": ["hello world", "x", None],
        "tool": [None, "browser", ""],
        "ts": pd.to_datetime(["2025-01-01"] * 3),
    }).to_parquet(inp)
    out = str(tmp_path / "out")
    stats = job.run_extract(spark, inp, out, n_buckets=4)
    assert stats["turns_out"] == 1
    got = job.read_extracted(spark, out).toPandas()
    assert list(got["conv_id"]) == ["c1"]
    assert list(got["clean_text"]) == ["hello world"]
    requested = job.read_transcripts(spark, inp).where("conv_id IS NOT NULL")
    missing = job.found_notfound(requested, job.read_extracted(spark, out))
    assert missing.count() == 1  # c2 (null text) reported missing


def test_jsonl_and_csv_sources_match_parquet(spark, tmp_path):
    """S1 format dispatch: the same transcripts ingested as line-JSON
    and CSV must extract byte-identically to the parquet source."""
    import csv as csvmod
    import json as jsonmod

    from extractor.gen_fixtures import write_transcripts_parquet

    pq = str(tmp_path / "t.parquet")
    write_transcripts_parquet(pq, 300, seed=21)
    src = pd.read_parquet(pq)

    jl = str(tmp_path / "t.jsonl")
    with open(jl, "w", encoding="utf-8") as f:
        for rec in src.to_dict("records"):
            rec["ts"] = rec["ts"].strftime("%Y-%m-%dT%H:%M:%S")
            f.write(jsonmod.dumps(rec) + "\n")

    cs = str(tmp_path / "t.csv")
    with open(cs, "w", encoding="utf-8", newline="") as f:
        w = csvmod.writer(f, quoting=csvmod.QUOTE_ALL)
        w.writerow(["conv_id", "turn_idx", "role", "text", "tool", "ts"])
        for rec in src.to_dict("records"):
            w.writerow([rec["conv_id"], rec["turn_idx"], rec["role"],
                        rec["text"], rec["tool"],
                        rec["ts"].strftime("%Y-%m-%d %H:%M:%S")])

    # ORC via Spark's native writer (dir of .orc files, dispatched by
    # contained-file extension like the partitioned-parquet case)
    orc = str(tmp_path / "t_orc")
    spark.read.parquet(pq).write.orc(orc)

    outs = {}
    for tag, inp in [("parquet", pq), ("jsonl", jl), ("csv", cs),
                     ("orc", orc)]:
        out = str(tmp_path / ("out_" + tag))
        stats = job.run_extract(spark, inp, out, n_buckets=8)
        assert stats["turns_out"] == len(src), (tag, stats)
        outs[tag] = (job.read_extracted(spark, out)
                     .toPandas().reset_index(drop=True))
    for tag in ("jsonl", "csv", "orc"):
        assert (outs[tag]["clean_text"].values
                == outs["parquet"]["clean_text"].values).all(), tag
        assert (outs[tag]["n_refs"].values
                == outs["parquet"]["n_refs"].values).all(), tag


def test_writer_lock_blocks_concurrent_live_run(spark, tmp_path):
    """Two live drivers on one output dir: the second fails fast
    instead of interleaving partition overwrites; a dead holder's lock
    is stolen so crash-resume never blocks."""
    import subprocess
    import sys

    ckpt = str(tmp_path / "out" / "_checkpoint")
    # a second LIVE process holds the lock
    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, time; sys.path.insert(0, {repo!r});"
         "from extractor import checkpoint;"
         "checkpoint.acquire_writer_lock({ckpt!r}, 'other');"
         "print('LOCKED', flush=True); time.sleep(60)".format(
             repo=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
             ckpt=ckpt)],
        stdout=subprocess.PIPE, text=True)
    assert holder.stdout.readline().strip() == "LOCKED"
    try:
        with pytest.raises(checkpoint.ConcurrentRunError):
            job.run_extract(spark, GOLDEN_INPUT, str(tmp_path / "out"),
                            n_buckets=4)
    finally:
        holder.kill()
        holder.wait()
    # holder is dead now -> stale lock is stolen, run proceeds
    stats = job.run_extract(spark, GOLDEN_INPUT, str(tmp_path / "out"),
                            n_buckets=4)
    assert stats["turns_out"] > 0
    # lock released after a successful run
    assert not os.path.exists(os.path.join(ckpt, "writer.lock"))


def test_resume_rejects_changed_bucket_count(spark, tmp_path):
    """The manifest pins {n_buckets, salt, schema_version, input}; a
    resume under a different bucket count must hard-fail instead of
    silently skipping bucket ids whose membership changed (the
    reference restores settings on crash restore for the same reason,
    dev-version/fileProcessor.py:81-101)."""
    out = str(tmp_path / "out")
    s1 = job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=8,
                         wave_buckets=2, max_waves=1)
    assert s1["waves"] == 1
    with pytest.raises(checkpoint.CheckpointConfigError, match="n_buckets"):
        job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=4)
    # matching config resumes fine and converges
    s2 = job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=8)
    assert s2["skipped_committed"] == 2
    assert job.read_extracted(spark, out).count() > 0


def test_resume_rejects_changed_input_path(spark, tmp_path):
    """Committed bucket ids are only meaningful for the input they
    were computed over — a resume pointed at a different input path
    hard-fails."""
    from extractor.gen_fixtures import write_transcripts_parquet

    other = str(tmp_path / "other.parquet")
    write_transcripts_parquet(other, 50, seed=7)
    out = str(tmp_path / "out")
    job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=4,
                    wave_buckets=1, max_waves=1)
    with pytest.raises(checkpoint.CheckpointConfigError, match="input_path"):
        job.run_extract(spark, other, out, n_buckets=4)


def test_legacy_headerless_manifest_rejected(spark, tmp_path):
    """A manifest with committed records but no config header (the
    pre-pinning format) cannot be trusted: reject it loudly."""
    out = str(tmp_path / "out")
    ckpt = os.path.join(out, "_checkpoint")
    os.makedirs(ckpt)
    with open(os.path.join(ckpt, "manifest.json"), "w") as f:
        json.dump([{"partition_id": 0, "status": "committed",
                    "run_id": "old", "turns_in": 1, "turns_out": 1,
                    "refs_out": 0,
                    "committed_at": "2026-01-01T00:00:00+00:00"}], f)
    with pytest.raises(checkpoint.CheckpointConfigError,
                       match="pre-pinning"):
        job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=4)


def test_checkpoint_counters_distinguish_in_vs_out(spark, tmp_path):
    """turns_in counts rows read per bucket BEFORE the null-payload
    drop (what CHECKPOINT_SCHEMA promises); turns_out counts extracted
    rows — they diverge on dirty input."""
    inp = str(tmp_path / "dirty.parquet")
    pd.DataFrame({
        "conv_id": ["c1", "c2", "c3", None],
        "turn_idx": pd.array([0, 0, 0, 0], dtype="int32"),
        "role": ["user"] * 4,
        "text": ["hello world", None, None, "x"],  # 2 null payloads
        "tool": pd.Series([None] * 4, dtype="string"),
        "ts": pd.to_datetime(["2025-01-01"] * 4),
    }).to_parquet(inp)
    out = str(tmp_path / "out")
    stats = job.run_extract(spark, inp, out, n_buckets=4)
    assert stats["turns_out"] == 1
    ck = checkpoint.read_committed(os.path.join(out, "_checkpoint"))
    # null-key row has no bucket; the two null-text rows DO count as in
    assert sum(r["turns_in"] for r in ck.values()) == 3
    assert sum(r["turns_out"] for r in ck.values()) == 1


def test_writer_lock_permission_error_means_alive(tmp_path, monkeypatch):
    """EPERM from kill(pid, 0) means the pid EXISTS (another user's
    process) — the holder is alive and its lock must NOT be stolen."""
    ckpt = str(tmp_path / "ck")
    os.makedirs(ckpt)
    with open(os.path.join(ckpt, "writer.lock"), "w") as f:
        json.dump({"run_id": "other-user", "pid": 424242}, f)
    real_kill = os.kill

    def fake_kill(pid, sig):
        if pid == 424242 and sig == 0:
            raise PermissionError("Operation not permitted")
        return real_kill(pid, sig)

    monkeypatch.setattr(os, "kill", fake_kill)
    with pytest.raises(checkpoint.ConcurrentRunError):
        checkpoint.acquire_writer_lock(ckpt, "me")


def test_dir_named_json_routed_by_contents(spark, tmp_path):
    """A parquet DIRECTORY whose name ends in .json must be read as
    parquet (by inspecting contained files), not routed to the JSON
    reader where the enforced schema would yield all-null rows."""
    from extractor.gen_fixtures import write_transcripts_parquet

    pq = str(tmp_path / "t.parquet")
    write_transcripts_parquet(pq, 50, seed=5)
    tricky = str(tmp_path / "exports.json")
    spark.read.parquet(pq).write.parquet(tricky)
    df = job.read_transcripts(spark, tricky)
    assert df.count() == 50
    assert df.where(F.col("conv_id").isNull()).count() == 0


def test_adversarial_goldens_per_turn_equality(spark, tmp_path):
    """t2 adversarial golden gate (real-world-shaped HTML: nested
    layout tables, RTL/bidi, minified single-line, 60-deep nesting,
    spaceless CJK, entity soup): the Spark job must match the frozen
    pandas-oracle extraction byte-for-byte, AND the semantic contract
    must hold per case — main prose kept, link-farm nav/footer
    boilerplate dropped, CJK content not zeroed by word heuristics."""
    inp = os.path.join(os.path.dirname(__file__), "goldens",
                       "t2_input.parquet")
    exp = (pd.read_parquet(os.path.join(os.path.dirname(__file__),
                                        "goldens", "t2_expected.parquet"))
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    out = str(tmp_path / "out")
    job.run_extract(spark, inp, out, n_buckets=4)
    got = job.read_extracted(spark, out).toPandas()
    assert (got["conv_id"].values == exp["conv_id"].values).all()
    assert (got["clean_text"].values == exp["clean_text"].values).all()
    by_conv = dict(zip(got["conv_id"], got["clean_text"]))
    for conv, text in by_conv.items():
        assert len(text) > 100, (conv, "content lost")
        for boiler in ("Sitemap", "Subscribe", "Copyright"):
            assert boiler not in text, (conv, "boilerplate leaked", boiler)
    assert "学術文書" in by_conv["adv-cjk_mixed"]
    refs_by_conv = dict(zip(got["conv_id"], got["n_refs"]))
    # all four citation styles detected through the DOM path
    assert refs_by_conv["adv-citation_styles"] == 4
    assert "تحليل النصوص" in by_conv["adv-rtl_arabic"]
    assert by_conv["adv-minified_single_line"].startswith("Layout analysis")


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    """North-rule launch path: the job must run under
    ``spark-submit --py-files extractor.zip`` with the package supplied
    ONLY by the zip (cwd is a scratch dir, so nothing resolves from the
    repo checkout implicitly), and the checkpointed output must equal
    the pandas oracle."""
    import shutil
    import subprocess
    import sys

    from extractor.core.batch import extract_batch
    from extractor.gen_fixtures import gen_transcripts, write_transcripts_parquet
    from extractor.job import make_pyfiles_zip

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    zip_path = make_pyfiles_zip(str(tmp_path / "extractor.zip"))
    inp = str(tmp_path / "t.parquet")
    write_transcripts_parquet(inp, 60, seed=9)
    out = str(tmp_path / "out")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    app = str(tmp_path / "app.py")  # job.py outside the repo tree
    shutil.copy(os.path.join(repo, "extractor", "job.py"), app)
    env = {**os.environ,
           "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    env.pop("PYTHONPATH", None)  # only the zip may provide the package
    res = subprocess.run(
        [spark_submit, "--master", "local[2]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zip_path, app,
         "--input", inp, "--output", out, "--buckets", "8"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    got = job.read_extracted(spark, out).toPandas()
    oracle = (extract_batch(gen_transcripts(60, seed=9))
              .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    assert (got["clean_text"].values == oracle["clean_text"].values).all()
    assert (got["n_refs"].to_numpy() == oracle["n_refs"].to_numpy()).all()


def test_transcript_native_goldens_per_turn_equality(spark, tmp_path):
    """t3 golden gate — the shapes agent transcripts actually contain
    (BASELINE input_hint): tool-output JSON blobs, streamed/truncated
    HTML fragments, base64-embedded binaries in text, interleaved role
    turns. Byte-equal to the frozen pandas oracle, plus the semantic
    contract per shape."""
    import re

    inp = os.path.join(os.path.dirname(__file__), "goldens",
                       "t3_input.parquet")
    exp = (pd.read_parquet(os.path.join(os.path.dirname(__file__),
                                        "goldens", "t3_expected.parquet"))
           .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    out = str(tmp_path / "out")
    job.run_extract(spark, inp, out, n_buckets=4)
    got = job.read_extracted(spark, out).toPandas()
    assert (got["conv_id"].values == exp["conv_id"].values).all()
    assert (got["clean_text"].values == exp["clean_text"].values).all()
    by_key = {(c, t): x for c, t, x in
              zip(got["conv_id"], got["turn_idx"], got["clean_text"])}
    # tool JSON: string leaves kept in document order, schema noise
    # (keys, numbers, urls), markup, and attachments gone
    s = by_key[("t3-agent-search", 2)]
    assert "zero-copy framing & dictionary reuse" in s
    assert "シャッフルの設計" in s
    for noise in ('"title"', "<b>", "example.org", "0.92", "latency_ms"):
        assert noise not in s, noise
    assert by_key[("t3-json-edge", 1)] == ""  # numbers-only payload
    # almost-JSON stays raw (never half-parsed)
    assert by_key[("t3-json-edge", 2)].startswith('{"broken"')
    assert by_key[("t3-json-edge", 3)] == "R&D results → ready"
    # truncated HTML: prose kept, the cut-off tag never leaks
    frag = by_key[("t3-html-frag", 0)]
    assert "committee reviewed the migration plan" in frag
    assert "<" not in frag
    # a partial references list still segments
    n_refs = {(c, t): n for c, t, n in
              zip(got["conv_id"], got["turn_idx"], got["n_refs"])}
    assert n_refs[("t3-html-frag", 1)] >= 1
    # base64 blobs: no 60+ char base64 run survives in any clean text
    b64run = re.compile(r"[A-Za-z0-9+/]{60}")
    for (c, t), x in by_key.items():
        assert not b64run.search(x), (c, t)
    assert "thirty-two executors" in by_key[("t3-b64", 0)]
    assert "End of attachment." in by_key[("t3-b64", 1)]
    assert "fixed the auth loop" in by_key[("t3-b64", 2)]


def test_compact_buckets_preserves_content_and_order(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    src = GOLDEN_INPUT
    out = str(tmp_path / "out")
    # two waves -> at least two files in every bucket touched twice
    job.run_extract(spark, src, out, n_buckets=4, wave_buckets=2)
    before = job.read_extracted(spark, out).toPandas()
    files_before = glob.glob(os.path.join(out, "data", "bucket=*", "*.parquet"))
    n = job.compact_buckets(spark, out)
    files_after = glob.glob(os.path.join(out, "data", "bucket=*", "*.parquet"))
    # one file per bucket dir now
    per_dir = {}
    for f in files_after:
        per_dir.setdefault(os.path.dirname(f), []).append(f)
    assert all(len(v) == 1 for v in per_dir.values()), per_dir
    assert len(files_after) <= len(files_before)
    assert n == len(per_dir)
    after = job.read_extracted(spark, out).toPandas()
    for c in before.columns:
        a, b = before[c], after[c]
        if c == "refs":  # array column: elementwise via str
            a, b = a.apply(lambda v: tuple(map(str, v))), \
                   b.apply(lambda v: tuple(map(str, v)))
        assert (a.values == b.values).all(), c
    # within-file key order survives (row-group pruning contract)
    for f in files_after:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pandas()
        keys = list(zip(t["conv_id"], t["turn_idx"]))
        assert keys == sorted(keys), f


def test_ignore_corrupt_input_files(spark, tmp_path):
    """A garbage blob among the input files: default read FAILS the
    job (silent skipping must be opt-in); ignore_corrupt=True extracts
    the good files' turns exactly (output equals a run over the clean
    dir alone) — at 100 TB one truncated upload must not kill a
    1000-executor run."""
    import shutil

    dirty, clean = str(tmp_path / "dirty"), str(tmp_path / "clean")
    for d in (dirty, clean):
        os.makedirs(d)
        shutil.copy(GOLDEN_INPUT, os.path.join(d, "part-0.parquet"))
    with open(os.path.join(dirty, "part-1.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a parquet file \x00\xff" * 64)

    with pytest.raises(Exception):
        job.run_extract(spark, dirty, str(tmp_path / "boom"), n_buckets=8)

    r = job.run_extract(spark, dirty, str(tmp_path / "ok"), n_buckets=8,
                        ignore_corrupt=True)
    job.run_extract(spark, clean, str(tmp_path / "ref"), n_buckets=8)
    a = (job.read_extracted(spark, str(tmp_path / "ok")).toPandas())
    b = (job.read_extracted(spark, str(tmp_path / "ref")).toPandas())
    assert r["turns_out"] == len(b) and len(a) == len(b)
    assert (a["clean_text"].values == b["clean_text"].values).all()


def test_schema_drift_tolerated(spark, tmp_path):
    """Upstream schema drift: an input with EXTRA columns (enforced
    schema projects them away) and one missing the optional `tool`
    column (enforced schema fills nulls) both extract identically to
    the pristine golden input — the contract that lets 10^12-turn
    backfills span producer versions."""
    import pyarrow.parquet as _pq
    import pyarrow as _pa

    base = pd.read_parquet(GOLDEN_INPUT)

    extra_dir = str(tmp_path / "extra")
    extra = base.copy()
    extra["session_id"] = extra["conv_id"] + ":s"
    extra["retry_count"] = 7
    os.makedirs(extra_dir)
    _pq.write_table(_pa.Table.from_pandas(extra, preserve_index=False),
                    os.path.join(extra_dir, "part-0.parquet"))

    job.run_extract(spark, extra_dir, str(tmp_path / "oe"), n_buckets=8)
    job.run_extract(spark, GOLDEN_INPUT, str(tmp_path / "og"), n_buckets=8)
    a = job.read_extracted(spark, str(tmp_path / "oe")).toPandas()
    g = job.read_extracted(spark, str(tmp_path / "og")).toPandas()
    assert len(a) == len(g)
    assert (a["clean_text"].values == g["clean_text"].values).all()

    miss_dir = str(tmp_path / "miss")
    os.makedirs(miss_dir)
    _pq.write_table(
        _pa.Table.from_pandas(base.drop(columns=["tool"]),
                              preserve_index=False),
        os.path.join(miss_dir, "part-0.parquet"))
    got = job.read_transcripts(spark, miss_dir)
    assert got.schema["tool"].dataType.simpleString() == "string"
    n_null = got.where(F.col("tool").isNull()).count()
    assert n_null == len(base)


def test_suggest_buckets_scales_with_input_bytes(spark, tmp_path):
    """suggest_buckets = pow2 ceil(bytes / target): the golden input
    (~KBs) floors at min_buckets; shrinking the target to 64 KiB must
    yield a larger pow2 count that covers the input at ~64 KiB per
    bucket; and the suggestion is stable under small growth (pow2
    rounding), which keeps resume's pinned bucket count valid."""
    n_floor = job.suggest_buckets(spark, GOLDEN_INPUT)
    assert n_floor == 16

    n_small = job.suggest_buckets(spark, GOLDEN_INPUT,
                                  target_bucket_bytes=64 * 1024)
    assert n_small >= 16 and (n_small & (n_small - 1)) == 0
    size = os.path.getsize(GOLDEN_INPUT)
    assert n_small >= size // (64 * 1024)
    # pow2 stability: same suggestion for a target 10% tighter
    assert n_small == job.suggest_buckets(
        spark, GOLDEN_INPUT, target_bucket_bytes=int(64 * 1024 * 0.9))


def test_compact_buckets_recovers_mid_swap_crash(spark, tmp_path):
    """Kill between compact's two swap renames leaves data/ missing
    and data.old holding the committed table; the next compact call
    must roll back first and complete normally (no data loss, same
    rows, ordering contract intact)."""
    out = str(tmp_path / "out")
    job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=8)
    base = job.read_extracted(spark, out).toPandas()

    data = os.path.join(out, "data")
    os.rename(data, data + ".old")  # the exact mid-swap crash state
    n = job.compact_buckets(spark, out)
    assert n >= 1
    assert not os.path.exists(data + ".old")
    got = job.read_extracted(spark, out).toPandas()
    assert len(got) == len(base)
    assert (got["clean_text"].values == base["clean_text"].values).all()


def test_writer_lock_steal_race_single_winner(tmp_path):
    """Six fresh processes race to steal one STALE lock (dead pid):
    exactly one may hold it afterwards, the rest must fail fast with
    ConcurrentRunError — and the surviving lock file must be complete
    JSON (the lock appears atomically WITH its payload; a contender
    can never read a half-created lock, classify it corrupt, and
    steal it from a live winner)."""
    import json as _json
    import subprocess
    import sys

    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    # a stale holder: a pid that existed once and is certainly dead now
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    with open(os.path.join(ckpt, "writer.lock"), "w") as f:
        f.write(_json.dumps({"run_id": "ghost", "pid": dead.pid}))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # start barrier: every contender signals readiness, then blocks on
    # a go-file the parent creates once ALL are ready. Without it, a
    # slow python startup under load lets an early winner finish its
    # hold and EXIT before a late contender even begins — the late one
    # then (correctly) steals the now-dead holder's lock, and the test
    # miscounts a legitimate sequential steal as a race violation.
    go = os.path.join(ckpt, "go")
    contender = (
        "import os, sys, time; sys.path.insert(0, {repo!r})\n"
        "from extractor import checkpoint\n"
        "open({ckpt!r} + '/ready.' + sys.argv[1], 'w').close()\n"
        "while not os.path.exists({go!r}):\n"
        "    time.sleep(0.01)\n"
        "try:\n"
        "    checkpoint.acquire_writer_lock({ckpt!r}, 'r' + sys.argv[1])\n"
        "    time.sleep(3.0)\n"  # hold until every contender has raced
        "    print('WON')\n"
        "except checkpoint.ConcurrentRunError:\n"
        "    print('LOST')\n"
    ).format(repo=repo, ckpt=ckpt, go=go)
    procs = [subprocess.Popen([sys.executable, "-c", contender, str(i)],
                              stdout=subprocess.PIPE, text=True)
             for i in range(6)]
    import time as _time
    deadline = _time.time() + 60
    while (len([f for f in os.listdir(ckpt) if f.startswith("ready.")]) < 6
           and _time.time() < deadline):
        _time.sleep(0.01)
    # the barrier must actually complete: opening the gate with a
    # contender still starting reintroduces the legitimate-sequential-
    # steal flake — fail loudly as an environment problem instead
    assert len([f for f in os.listdir(ckpt)
                if f.startswith("ready.")]) == 6, "contenders not ready"
    open(go, "w").close()
    outs = [p.communicate(timeout=120)[0].strip() for p in procs]
    assert sorted(outs).count("WON") == 1, outs
    with open(os.path.join(ckpt, "writer.lock")) as f:
        holder = _json.load(f)  # complete JSON, never a partial write
    assert holder["run_id"].startswith("r")
    assert not [fn for fn in os.listdir(ckpt) if ".tmp." in fn]


def test_observed_rows_match_durable_counters(spark, tmp_path):
    """df.observe rides the wave write (no extra job): rows the plan
    produced must equal the turns_out counted back from disk — the
    write-integrity invariant. Holds across multiple waves."""
    out = str(tmp_path / "out")
    stats = job.run_extract(spark, GOLDEN_INPUT, out,
                            n_buckets=8, wave_buckets=3)
    assert stats["turns_observed"] == stats["turns_out"] > 0
    assert stats["waves"] == 3


def test_gen_uri_rejects_unknown_option(spark):
    """A typo'd gen: option must be loud — the source would otherwise
    default silently (n_turn=10000000 -> a 2000-turn dataset that
    'passes' a 10M-turn soak in seconds)."""
    import pytest as _pytest

    from extractor import job

    with _pytest.raises(ValueError, match="n_turn"):
        job.read_transcripts(spark, "gen:n_turn=1000,seed=7")


def test_read_extracted_asof_time_travel(spark, tmp_path):
    """Snapshot-log time travel (Iceberg VERSION AS OF analog): after
    a 2-wave partial run + a resume to completion, reading as of the
    partial run's last snapshot must equal BYTE-wise what
    read_extracted returned at that moment, and reading as of the
    final snapshot must equal the full table. The bucket restriction
    must reach PartitionFilters (directories of not-yet-committed
    buckets are never listed)."""
    out = str(tmp_path / "tt")
    job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=12,
                    wave_buckets=3, max_waves=2)
    at_partial = job.read_extracted(spark, out).toPandas()
    snaps = checkpoint.snapshots(os.path.join(out, "_checkpoint"))
    assert len(snaps) == 2
    assert len(snaps[1]["committed_cumulative"]) == 6
    job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=12)
    snaps2 = checkpoint.snapshots(os.path.join(out, "_checkpoint"))
    assert len(snaps2) > 2
    # as-of the partial run's snapshot == what the table read then
    asof = job.read_extracted_asof(spark, out, 1)
    got = asof.toPandas()
    assert (got["conv_id"].values == at_partial["conv_id"].values).all()
    assert (got["clean_text"].values
            == at_partial["clean_text"].values).all()
    # partition pruning: the bucket .isin folds into PartitionFilters
    plan = asof._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan, plan
    # as-of the latest snapshot == the full current table
    full = job.read_extracted(spark, out).toPandas()
    last = job.read_extracted_asof(spark, out,
                                   snaps2[-1]["snapshot_id"]).toPandas()
    assert (last["conv_id"].values == full["conv_id"].values).all()
    assert (last["clean_text"].values == full["clean_text"].values).all()
    # out-of-range snapshot ids hard-fail
    import pytest as _pytest
    with _pytest.raises(ValueError):
        job.read_extracted_asof(spark, out, len(snaps2))


def test_rollback_then_resume_reprocesses_dropped_buckets(spark, tmp_path):
    """checkpoint.rollback truncates the snapshot log; a resumed run
    must re-process exactly the rolled-back buckets (idempotent
    overwrite) and converge to the same table as an untouched full
    run — the Iceberg-rollback contract over the manifest."""
    out = str(tmp_path / "rb")
    job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=12,
                    wave_buckets=3)
    full = job.read_extracted(spark, out).toPandas()
    ck = os.path.join(out, "_checkpoint")
    assert len(checkpoint.snapshots(ck)) == 4
    dropped = checkpoint.rollback(ck, 1)
    assert len(dropped) == 6
    assert len(checkpoint.read_committed(ck)) == 6
    # as-of reads still work after rollback and match the kept set
    part = job.read_extracted_asof(spark, out, 1).toPandas()
    assert len(part) < len(full)
    s = job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=12)
    assert s["skipped_committed"] == 6
    again = job.read_extracted(spark, out).toPandas()
    assert (again["conv_id"].values == full["conv_id"].values).all()
    assert (again["clean_text"].values == full["clean_text"].values).all()
    with pytest.raises(ValueError):
        checkpoint.rollback(ck, 99)


def test_compact_preserves_committed_set_and_recent_time_travel(
        spark, tmp_path):
    """checkpoint.compact squashes old commit batches into one
    baseline: read_committed identical before/after, resume still a
    full no-op, snapshots shrink to keep+1, and time travel within
    the kept window returns the same rows as before compaction."""
    out = str(tmp_path / "cp")
    job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=12,
                    wave_buckets=3)
    ck = os.path.join(out, "_checkpoint")
    before = checkpoint.read_committed(ck)
    snaps_before = checkpoint.snapshots(ck)
    assert len(snaps_before) == 4
    asof_last_before = job.read_extracted_asof(
        spark, out, 3).toPandas()
    stats = checkpoint.compact(ck, keep_snapshots=2)
    assert stats["squashed_batches"] == 2
    assert stats["records_after"] < stats["records_before"] \
        or stats["records_after"] == stats["records_before"]
    after = checkpoint.read_committed(ck)
    # identical modulo the batch stamp: counters + partition set are
    # untouched, and the last writer's provenance is re-filed under
    # compacted_from_* keys
    strip = ("run_id", "committed_at", "compacted_from_run_id",
             "compacted_from_committed_at")
    assert {p: {k: v for k, v in r.items() if k not in strip}
            for p, r in before.items()} \
        == {p: {k: v for k, v in r.items() if k not in strip}
            for p, r in after.items()}
    assert all(r["compacted_from_run_id"] == before[p]["run_id"]
               for p, r in after.items()
               if r["run_id"] == "__compacted__")
    snaps = checkpoint.snapshots(ck)
    assert len(snaps) == 3  # baseline + 2 kept
    assert snaps[0]["run_id"] == "__compacted__"
    # latest snapshot still reads the full table
    asof_last = job.read_extracted_asof(
        spark, out, snaps[-1]["snapshot_id"]).toPandas()
    assert (asof_last["conv_id"].values
            == asof_last_before["conv_id"].values).all()
    # resume is still a pure no-op
    s = job.run_extract(spark, GOLDEN_INPUT, out, n_buckets=12)
    assert s["skipped_committed"] == 12 and s["waves"] == 0
    # idempotent: a second compact with fewer batches is a no-op
    again = checkpoint.compact(ck, keep_snapshots=5)
    assert again["squashed_batches"] == 0


def test_compact_twice_preserves_original_provenance(tmp_path):
    """Double compaction must not launder lineage: a second compact()
    that squashes an earlier baseline batch has to keep the ORIGINAL
    run's compacted_from_* provenance rather than re-stamping it with
    "__compacted__" (the contract says lineage is re-filed, never
    destroyed). Pure-manifest test, no Spark needed."""
    import time as _time

    ck = str(tmp_path / "ck")
    checkpoint.ensure_header(ck, {"n_buckets": 4})
    for i, rid in enumerate(("run-a", "run-b", "run-c")):
        checkpoint.commit(ck, rid, [
            {"partition_id": i, "turns_in": 1, "turns_out": 1,
             "refs_out": 0}])
        _time.sleep(0.01)  # distinct committed_at stamps per batch
    s1 = checkpoint.compact(ck, keep_snapshots=1)
    assert s1["squashed_batches"] == 2
    rec0 = checkpoint.read_committed(ck)[0]
    assert rec0["compacted_from_run_id"] == "run-a"

    checkpoint.commit(ck, "run-d", [
        {"partition_id": 3, "turns_in": 1, "turns_out": 1,
         "refs_out": 0}])
    s2 = checkpoint.compact(ck, keep_snapshots=1)
    assert s2["squashed_batches"] >= 1
    after = checkpoint.read_committed(ck)
    # the original writer is STILL named after the baseline itself
    # was squashed a second time
    assert after[0]["compacted_from_run_id"] == "run-a"
    assert after[1]["compacted_from_run_id"] == "run-b"
    assert after[2]["compacted_from_run_id"] == "run-c"


def _host(monkeypatch, tmp_path, ram_bytes, cgroup_limit=None):
    """Pin what driver_memory sees: RAM via os.sysconf, the cgroup limit
    via a temp file (or none), and SPARK_DRIVER_MEM unset."""
    page = 4096
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_bytes // page}
    monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)
    limit = tmp_path / "memory.max"
    limit.unlink(missing_ok=True)
    if cgroup_limit is not None:
        limit.write_text("{}\n".format(cgroup_limit))
    monkeypatch.setattr(job, "CGROUP_MEM_LIMITS", (str(limit),))
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


def _mem_bytes(spec):
    return int(spec[:-1]) * {"m": 2**20, "g": 2**30}[spec[-1]]


def test_driver_memory_sized_to_host(monkeypatch, tmp_path):
    """The local driver heap takes at most half of the host, leaving the
    rest to the out-of-heap Python workers and the OS; big hosts keep the
    16g cap; an explicit SPARK_DRIVER_MEM wins. No JVM is started."""
    gib = 2**30
    _host(monkeypatch, tmp_path, 16 * gib)
    assert 0 < _mem_bytes(job.driver_memory()) <= 8 * gib

    _host(monkeypatch, tmp_path, 256 * gib)
    assert job.driver_memory() == "16g"
    _host(monkeypatch, tmp_path, 32 * gib)
    assert job.driver_memory() == "16g"

    # a smaller cgroup limit is the base; "max" means no limit
    _host(monkeypatch, tmp_path, 256 * gib, cgroup_limit=4 * gib)
    assert _mem_bytes(job.driver_memory()) <= 2 * gib
    _host(monkeypatch, tmp_path, 256 * gib, cgroup_limit="max")
    assert job.driver_memory() == "16g"

    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert job.driver_memory() == "3g"
