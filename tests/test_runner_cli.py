"""End-to-end test of the spark-submit entry point's main() — the
north rule's submission surface — including the --neardup-gate flag."""

import os

import pytest
from pyspark.sql import functions as F

from data_check_spark.runner import main
from data_check_spark.session import CACHED_PLAN_AQE


def test_runner_synthesize_with_neardup_gate(spark, tmp_path):
    """The synth corpus is DELIBERATELY template-heavy (the phrase
    picker has a small vocabulary), so the default suite reports its
    planted dirt (rc=1) and the near-dup gate sees real duplicate
    mass — the global verdict row must land in the audit alongside
    the per-partition ones, with its dump."""
    out = str(tmp_path / "run")
    rc = main([
        "--synthesize", "2000",
        "--out", out,
        "--partitions", "4",
        "--neardup-gate", "0.5",
    ])
    audit = spark.read.parquet(f"{out}/audit/verdicts")
    nd = audit.filter(F.col("check") == "neardup_frac").collect()
    assert len(nd) == 1
    assert nd[0]["partition"] == "*"
    assert 0.0 <= nd[0]["metric"] <= 1.0
    # exit code reflects the OVERALL verdict set (synth dirt included)
    failed = audit.filter(~F.col("passed")).count()
    assert rc == (0 if failed == 0 else 1)
    viol = spark.read.parquet(f"{out}/audit/violations/neardup_text")
    assert viol.count() > 0  # template corpus: non-exemplar members exist
    # resume: everything complete -> nothing pending
    assert main(["--synthesize", "2000", "--out", out,
                 "--partitions", "4"]) == 2


def test_runner_lang_profile_gate(spark, tmp_path):
    """--lang-min-entropy / --lang-max-mode-share wire a ProfileCheck
    on lang into the default suite: the global '*' verdicts land in
    the audit, and the synth corpus's ~uniform language mix passes a
    loose gate."""
    out = str(tmp_path / "run_prof")
    rc = main([
        "--synthesize", "2000",
        "--out", out,
        "--partitions", "4",
        "--lang-min-entropy", "0.5",
        "--lang-max-mode-share", "0.95",
    ])
    audit = spark.read.parquet(f"{out}/audit/verdicts")
    prof = {r["check"]: r for r in
            audit.filter(F.col("check").startswith("profile_")).collect()}
    assert set(prof) == {"profile_entropy", "profile_mode_share"}
    assert all(r["partition"] == "*" for r in prof.values())
    assert prof["profile_entropy"]["passed"]  # synth mix is multi-lang
    assert prof["profile_mode_share"]["passed"]
    failed = audit.filter(~F.col("passed")).count()
    assert rc == (0 if failed == 0 else 1)


def test_runner_route_packs(spark, tmp_path):
    """--route-packs adds the gopher/encoding packs to the routing
    pass: synth pages (short template texts) trip gopher_min_words,
    so the quarantine side must carry expr:gopher_* reasons; the
    encoding pack adds nothing on clean synth text but must be
    accepted. Unknown pack names fail loudly."""
    out = str(tmp_path / "run")
    route = str(tmp_path / "routed")
    rc = main([
        "--synthesize", "500",
        "--out", out,
        "--partitions", "2",
        "--route-out", route,
        "--route-packs", "gopher,encoding",
    ])
    assert rc in (0, 1)
    quarantined = spark.read.parquet(f"{route}/quarantine")
    reasons = {
        x
        for r in quarantined.select("quarantine_reasons").collect()
        for x in r[0]
    }
    assert any(x.startswith("expr:gopher_") for x in reasons)
    # synth text is scar-free: encoding gates fire ONLY fail-closed,
    # i.e. on the planted NULL texts, never on a present text
    per_row = quarantined.select("quarantine_reasons").collect()
    for (rs,) in per_row:
        if any(x.startswith("expr:enc_") for x in rs):
            assert "not_null:text" in rs
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main([
            "--synthesize", "100",
            "--out", str(tmp_path / "run2"),
            "--route-out", str(tmp_path / "r2"),
            "--route-packs", "nonsense",
        ])


def test_runner_dedup_out(spark, tmp_path):
    """--dedup-out writes the post-dedup corpus: the synth corpus is
    template-heavy by design, so non-exemplar members must drop and
    each kept near-dup cluster keeps exactly its min url."""
    out = str(tmp_path / "run")
    dd = str(tmp_path / "dedup")
    rc = main([
        "--synthesize", "1500",
        "--out", out,
        "--partitions", "2",
        "--dedup-out", dd,
    ])
    assert rc in (0, 1)
    kept = spark.read.parquet(f"{dd}/corpus")
    n_in = 1500
    n_kept = kept.count()
    assert 0 < n_kept < n_in  # template corpus: something must drop
    # schema is the input schema, untouched
    assert set(kept.columns) >= {"url", "text", "lang"}
    # determinism: a second run keeps the same url set
    rc2 = main([
        "--synthesize", "1500",
        "--out", str(tmp_path / "run2"),
        "--partitions", "4",
        "--dedup-out", str(tmp_path / "dedup2"),
    ])
    kept2 = spark.read.parquet(f"{tmp_path}/dedup2/corpus")
    assert {r["url"] for r in kept.select("url").collect()} == {
        r["url"] for r in kept2.select("url").collect()
    }


def test_runner_mix_and_shard_out(spark, tmp_path):
    """--mix-out + --shard-out chain the corpus-construction stages:
    the mix reads the raw input (no --dedup-out here), reweights lang
    proportions with repetition (fi/el are the synth corpus's two most
    common languages), and the shard export writes a
    verified manifest over the MIXED corpus."""
    out = str(tmp_path / "run_mix")
    rc = main([
        "--synthesize", "1500",
        "--out", out,
        "--partitions", "4",
        "--mix-out", f"{out}/mix",
        "--mix-weights", '{"fi": 2, "el": 1}',
        "--mix-epochs", "2.0",
        "--shard-out", f"{out}/shards",
        "--shards", "4",
    ])
    assert rc in (0, 1)  # suite verdicts decide the exit code
    mixed = spark.read.parquet(f"{out}/mix/corpus")
    langs = {r["lang"] for r in mixed.select("lang").distinct().collect()}
    assert langs == {"fi", "el"}  # unweighted languages dropped
    assert "epoch" in mixed.columns
    # binding source repeats: some rows carry epoch 1
    assert mixed.filter(F.col("epoch") == 1).count() > 0
    # ~2:1 proportions (each source within one 1/256-quantum per row)
    n_hi = mixed.filter(F.col("lang") == "fi").count()
    n_lo = mixed.filter(F.col("lang") == "el").count()
    assert 1.6 < n_hi / n_lo < 2.4
    # shards: verified manifest + partition dirs over the mixed corpus
    man = spark.read.parquet(f"{out}/shards/_manifest")
    assert man.count() == 4
    back = spark.read.parquet(f"{out}/shards")
    assert back.count() == mixed.count()


def test_runner_mix_flag_validation(tmp_path):
    """Flag typos die at argparse time, before any Spark job: missing
    weights, malformed JSON, non-numeric weights, sub-1.0 epochs."""
    base = ["--synthesize", "100", "--out", str(tmp_path / "o")]
    for bad in (
        ["--mix-out", str(tmp_path / "m")],  # no --mix-weights
        ["--mix-out", str(tmp_path / "m"), "--mix-weights", '{"fi": 2'],
        ["--mix-out", str(tmp_path / "m"), "--mix-weights", '{"fi": "x"}'],
        ["--mix-out", str(tmp_path / "m"), "--mix-weights", '[1, 2]'],
        ["--mix-out", str(tmp_path / "m"), "--mix-weights", '{"fi": 1}',
         "--mix-epochs", "0.5"],
    ):
        with pytest.raises(SystemExit) as ei:
            main(base + bad)
        assert ei.value.code == 2  # argparse usage error, not a crash


def test_runner_construction_after_complete_manifest(spark, tmp_path):
    """A re-run over a complete manifest still produces the corpus
    outputs the user asked for THIS run (rc stays 2 = nothing
    pending), and the route->dedup chain feeds the dedup stage from
    the routed clean corpus, not the raw table."""
    out = str(tmp_path / "run")
    assert main(["--synthesize", "800", "--out", out,
                 "--partitions", "2"]) in (0, 1)
    route = str(tmp_path / "routed")
    dd = str(tmp_path / "dedup")
    rc = main([
        "--synthesize", "800",
        "--out", out,
        "--partitions", "2",
        "--route-out", route,
        "--dedup-out", dd,
    ])
    assert rc == 2  # manifest was complete; stages still ran
    clean = spark.read.parquet(f"{route}/clean")
    kept = spark.read.parquet(f"{dd}/corpus")
    # chained: dedup output is a subset of the CLEAN corpus
    clean_urls = {r["url"] for r in clean.select("url").collect()}
    kept_urls = {r["url"] for r in kept.select("url").collect()}
    assert kept_urls and kept_urls <= clean_urls
    # quarantined rows (planted NULL text etc.) never reach the corpus
    quarantined = {
        r["url"]
        for r in spark.read.parquet(f"{route}/quarantine")
        .select("url").collect()
    }
    assert not (kept_urls & quarantined)


def test_runner_resume_stages(spark, tmp_path):
    """--resume-stages skips a construction stage whose _SUCCESS
    marker is on disk: after wiping only the shard export (simulated
    failure downstream of the mix), the resumed run rebuilds the
    shards WITHOUT recomputing the mix; a plain re-run recomputes."""
    import os
    import shutil

    out = str(tmp_path / "run")
    mix = str(tmp_path / "mix")
    shards = str(tmp_path / "shards")
    base = [
        "--synthesize", "800", "--out", out, "--partitions", "2",
        "--mix-out", mix, "--mix-weights", '{"fi": 1, "el": 1}',
        "--shard-out", shards, "--shards", "2",
    ]
    assert main(base) in (0, 1)
    succ = f"{mix}/corpus/_SUCCESS"
    t0 = os.path.getmtime(succ)
    shutil.rmtree(shards)
    rc = main(base + ["--resume-stages"])
    assert rc == 2  # manifest complete; requested outputs still built
    assert os.path.getmtime(succ) == t0  # mix stage NOT recomputed
    mixed = spark.read.parquet(f"{mix}/corpus")
    man = spark.read.parquet(f"{shards}/_manifest")
    assert man.count() == 2
    assert sum(r["n_rows"] for r in man.collect()) == mixed.count()
    # plain re-run (no flag): the mix IS recomputed
    assert main(base) == 2
    assert os.path.getmtime(succ) > t0


def test_runner_quality_gate_flags(spark, tmp_path):
    """--linedup-gate / --lm-gate / --repetition-gate / --fd-check
    wire their suite checks from the CLI: each verdict kind lands in
    the audit, and a malformed --lm-gate dies at argparse time."""
    out = str(tmp_path / "run_gates")
    rc = main([
        "--synthesize", "2000",
        "--out", out,
        "--partitions", "4",
        "--linedup-gate", "0.9",
        "--lm-gate", "0.0:1.0:0.5",
        "--repetition-gate",
        "--fd-check",
    ])
    assert rc in (0, 1)
    audit = spark.read.parquet(f"{out}/audit/verdicts")
    kinds = {r["check"] for r in audit.select("check").distinct().collect()}
    assert "dup_line_frac" in kinds or any(k.startswith("dup_line") for k in kinds)
    assert any(k.startswith("lm_") or k == "lm_outlier_frac" for k in kinds)
    assert any(k.startswith("repetition_") for k in kinds)
    assert any(k.startswith("fd") for k in kinds)
    with pytest.raises(SystemExit) as ei:
        main(["--synthesize", "100", "--out", str(tmp_path / "x"),
              "--lm-gate", "nonsense"])
    assert ei.value.code == 2


def test_runner_extract_check(spark, tmp_path):
    """--extract-check wires the html→text extraction invariant
    (functions/html) into the default suite as an ExprCheck: the
    synth corpus satisfies its default expected form (64-char text
    prefix) on every partition, and a deliberately-wrong expected
    expression fails with the violating urls dumped."""
    out = str(tmp_path / "run_extract")
    rc = main([
        "--synthesize", "2000",
        "--out", out,
        "--partitions", "4",
        "--extract-check",
    ])
    audit = spark.read.parquet(f"{out}/audit/verdicts")
    inv = audit.filter(
        (F.col("check") == "expr") & (F.col("column") == "html_text_invariant")
    ).collect()
    assert len(inv) > 0 and all(r["passed"] for r in inv)
    failed = audit.filter(~F.col("passed")).count()
    assert rc == (0 if failed == 0 else 1)

    out2 = str(tmp_path / "run_extract_bad")
    rc2 = main([
        "--synthesize", "2000",
        "--out", out2,
        "--partitions", "4",
        "--extract-check", "'never this'",
    ])
    assert rc2 == 1
    audit2 = spark.read.parquet(f"{out2}/audit/verdicts")
    inv2 = audit2.filter(
        (F.col("check") == "expr") & (F.col("column") == "html_text_invariant")
    ).collect()
    # NULL-html rows are exempt, so a partition of only-NULL html could
    # pass; with 2000 rows every warc-day partition has non-NULL html
    assert len(inv2) > 0 and not any(r["passed"] for r in inv2)
    viol = spark.read.parquet(f"{out2}/audit/violations/expr_html_text_invariant")
    assert viol.count() > 0


def test_runner_session_lets_aqe_plan_cached_frames(spark, tmp_path):
    """The runner builds its own session (spark-submit supplies the
    master), so it applies ``session.CACHED_PLAN_AQE`` itself — to an
    existing session too."""
    (key, value), = CACHED_PLAN_AQE.items()
    spark.conf.set(key, "false")
    try:
        main(["--synthesize", "300", "--out", str(tmp_path / "run"),
              "--partitions", "2"])
        assert spark.conf.get(key) == value
    finally:
        spark.conf.set(key, value)


def _empty_schema_table(spark, path):
    spark.createDataFrame([], "column string, dtype string, run_id string, audit_kind string, "
                          "audit_ts timestamp").write.parquet(path)


@pytest.mark.parametrize("stored", [
    None,  # no directory
    lambda spark, path: os.makedirs(path),  # a directory without files
    _empty_schema_table,  # an audit table without rows
])
def test_runner_schema_from_audit_bootstraps_when_nothing_is_stored(
    spark, tmp_path, capsys, stored
):
    out = str(tmp_path / "run")
    if stored:
        stored(spark, f"{out}/audit/schemas")
    rc = main(["--synthesize", "300", "--out", out, "--partitions", "2",
               "--schema-from-audit"])
    assert rc in (0, 1)
    assert "no stored schema yet" in capsys.readouterr().out


def test_runner_schema_from_audit_propagates_a_corrupt_table(tmp_path):
    """An unreadable stored schema fails the run: running on without
    the schema gate would pass a table the gate was meant to check."""
    schemas = tmp_path / "run" / "audit" / "schemas"
    schemas.mkdir(parents=True)
    (schemas / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="CANNOT_READ_FILE_FOOTER"):
        main(["--synthesize", "300", "--out", str(tmp_path / "run"),
              "--partitions", "2", "--schema-from-audit"])
