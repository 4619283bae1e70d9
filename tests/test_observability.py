"""Structured logging: JSON-lines shape, timing, error channel, and
the CLI's query/upsert records."""

import io
import json
import os

import pytest

from howto_mongo_bulk_update_from_parquet_spark.observability import StructuredLog


def test_event_record_shape():
    buf = io.StringIO()
    log = StructuredLog(stream=buf)
    rec = log.event("write_complete", table="t", n_matched=3)
    line = json.loads(buf.getvalue())
    assert line == rec
    assert line["event"] == "write_complete"
    assert line["component"] == "howto_mongo_bulk_update_from_parquet_spark"
    assert line["table"] == "t" and line["n_matched"] == 3
    assert "ts" in line


def test_timed_emits_duration_and_body_fields():
    buf = io.StringIO()
    with StructuredLog(stream=buf).timed("step", stage="s1") as rec:
        rec["rows"] = 42
    line = json.loads(buf.getvalue())
    assert line["event"] == "step"
    assert line["stage"] == "s1" and line["rows"] == 42
    assert isinstance(line["duration_s"], float) and line["duration_s"] >= 0


def test_timed_error_channel_reraises():
    buf = io.StringIO()
    with pytest.raises(ValueError):
        with StructuredLog(stream=buf).timed("step"):
            raise ValueError("boom")
    line = json.loads(buf.getvalue())
    assert line["event"] == "step_error"
    assert "boom" in line["error"]


def test_rotating_file_handler_writes_and_rotates(tmp_path):
    from howto_mongo_bulk_update_from_parquet_spark.observability import rotating_file_handler
    path = os.path.join(str(tmp_path), "app.log")
    log = StructuredLog(stream=io.StringIO(), handlers=[
        rotating_file_handler(path, max_bytes=400, backup_count=2)])
    for i in range(20):
        log.event("write_complete", round=i, pad="x" * 40)
    log.close()
    # rotated backups exist and every surviving line is valid JSON with
    # the structured shape
    assert os.path.exists(path) and os.path.exists(path + ".1")
    lines = [json.loads(ln) for ln in open(path).read().splitlines()]
    assert lines and all(r["event"] == "write_complete" for r in lines)


def test_aws_named_profile_bridge(tmp_path, monkeypatch):
    """configparser twin of the reference's boto3 profile read
    (src/func/aws.py:8-31): named profile keys + region from the
    config file's '[profile X]' section."""
    from howto_mongo_bulk_update_from_parquet_spark.sources.parquet import load_aws_profile
    creds = tmp_path / "credentials"
    creds.write_text(
        "[default]\n"
        "aws_access_key_id = AKIADEFAULT\n"
        "aws_secret_access_key = sdefault\n"
        "[staging]\n"
        "aws_access_key_id = AKIASTAGING\n"
        "aws_secret_access_key = sstaging\n"
        "aws_session_token = tok123\n")
    conf = tmp_path / "config"
    conf.write_text(
        "[default]\nregion = us-east-1\n"
        "[profile staging]\nregion = eu-west-2\n")
    got = load_aws_profile("staging", credentials_path=str(creds),
                           config_path=str(conf))
    assert got == {"access_key": "AKIASTAGING", "secret_key": "sstaging",
                   "session_token": "tok123", "region": "eu-west-2"}
    # default profile via $AWS_PROFILE resolution
    monkeypatch.setenv("AWS_PROFILE", "default")
    got = load_aws_profile(credentials_path=str(creds),
                           config_path=str(conf))
    assert got["access_key"] == "AKIADEFAULT"
    assert got["session_token"] is None
    assert got["region"] == "us-east-1"
    with pytest.raises(KeyError, match="nope"):
        load_aws_profile("nope", credentials_path=str(creds),
                         config_path=str(conf))


def test_aws_config_only_profile_resolves(tmp_path):
    """boto3 parity: an SSO/role-based profile that exists ONLY in the
    config file ('[profile NAME]' section, no static keys in the
    credentials file) must resolve to a region-only result, not raise."""
    from howto_mongo_bulk_update_from_parquet_spark.sources.parquet import load_aws_profile
    creds = tmp_path / "credentials"
    creds.write_text("[default]\naws_access_key_id = AKIADEFAULT\n"
                     "aws_secret_access_key = sdefault\n")
    conf = tmp_path / "config"
    conf.write_text("[profile sso-dev]\n"
                    "sso_start_url = https://example.awsapps.com/start\n"
                    "region = ap-southeast-2\n")
    got = load_aws_profile("sso-dev", credentials_path=str(creds),
                           config_path=str(conf))
    assert got == {"access_key": None, "secret_key": None,
                   "session_token": None, "region": "ap-southeast-2"}
    # static keys directly in a config-file profile section also work
    conf.write_text("[profile cfgkeys]\n"
                    "aws_access_key_id = AKIACFG\n"
                    "aws_secret_access_key = scfg\nregion = us-west-2\n")
    got = load_aws_profile("cfgkeys", credentials_path=str(creds),
                           config_path=str(conf))
    assert got["access_key"] == "AKIACFG" and got["region"] == "us-west-2"


def test_configure_s3_from_profile_sets_hadoop_conf(spark, tmp_path):
    from howto_mongo_bulk_update_from_parquet_spark.sources.parquet import configure_s3_from_profile
    creds = tmp_path / "credentials"
    creds.write_text(
        "[p1]\n"
        "aws_access_key_id = AKIA1\n"
        "aws_secret_access_key = sec1\n"
        "aws_session_token = tok1\n"
        "region = ap-south-1\n")
    configure_s3_from_profile(spark, "p1", credentials_path=str(creds),
                              config_path=str(tmp_path / "absent"))
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.access.key") == "AKIA1"
    assert hconf.get("fs.s3a.secret.key") == "sec1"
    assert hconf.get("fs.s3a.session.token") == "tok1"
    assert hconf.get("fs.s3a.endpoint.region") == "ap-south-1"
    assert "Temporary" in hconf.get("fs.s3a.aws.credentials.provider")


def test_cli_query_emits_structured_timing(spark, capsys):
    from howto_mongo_bulk_update_from_parquet_spark.cli import main
    assert main(["query", "--name", "q_filter_project",
                 "--sf-dir", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    records = [json.loads(ln) for ln in out.splitlines()
               if ln.startswith("{")]
    q = [r for r in records if r["event"] == "query_complete"]
    assert len(q) == 1
    assert q[0]["query"] == "q_filter_project"
    assert q[0]["rows"] >= 0
    assert q[0]["duration_s"] > 0


def test_cli_upsert_emits_structured_counts(spark, tmp_path, capsys):
    from howto_mongo_bulk_update_from_parquet_spark.cli import main
    data = os.path.join(str(tmp_path), "data")
    table = os.path.join(str(tmp_path), "table")
    assert main(["generate", "--path", data, "--n-rows", "100",
                 "--n-files", "1"]) == 0
    assert main(["upsert", "--path", data, "--table", table]) == 0
    out = capsys.readouterr().out
    recs = [json.loads(ln) for ln in out.splitlines() if ln.startswith("{")]
    u = [r for r in recs if r["event"] == "upsert_complete"]
    assert len(u) == 1
    assert u[0]["rows"] == 100
    assert u[0]["n_upserted"] == 100 and u[0]["n_matched"] == 0
    assert u[0]["duration_s"] > 0


def test_plan_metrics_and_spill_after_action(spark):
    from pyspark.sql import functions as F
    from howto_mongo_bulk_update_from_parquet_spark.observability import plan_metrics, spill_bytes
    df = (spark.range(10_000)
          .select((F.col("id") % 7).alias("k"))
          .groupBy("k").agg(F.count(F.lit(1)).alias("n")))
    df.collect()
    m = plan_metrics(df)
    assert any(k.endswith(".numOutputRows") for k in m)
    # 7 groups in executor memory: no spill at this scale
    assert spill_bytes(df) == 0


def test_run_query_logged_emits_spill_field(spark, capsys):
    import json
    from howto_mongo_bulk_update_from_parquet_spark.observability import StructuredLog, run_query_logged

    def q(s, sf_dir):
        from pyspark.sql import functions as F
        return s.range(100).agg(F.sum("id").alias("s"))

    run_query_logged(spark, "probe", q, "unused", log=StructuredLog())
    recs = [json.loads(line) for line in
            capsys.readouterr().out.strip().splitlines() if line.startswith("{")]
    done = [r for r in recs if r.get("event") == "query_complete"]
    assert done and done[0]["rows"] == 1
    assert done[0].get("spill_bytes", 0) == 0
