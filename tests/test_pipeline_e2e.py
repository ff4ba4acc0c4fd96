"""End-to-end pipeline + golden test + CLI + DDL tests, using the example
project (the reference's customer pipeline re-homed —
reference: examples/pipelines/customer/model.yml, examples/data/customer.csv)."""

import os
import shutil

import pytest
from click.testing import CliRunner

from drune_spark.pipeline import GoldenTestFailure, Pipeline, Project

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROJECT_DIR = os.path.join(REPO, "examples", "project")
# target.path is a directory → the writer lands at <dir>/<name>.<format>
OUT = "/tmp/drune_spark_example/dm_customer.parquet"


@pytest.fixture()
def clean_out():
    shutil.rmtree("/tmp/drune_spark_example", ignore_errors=True)
    yield
    shutil.rmtree("/tmp/drune_spark_example", ignore_errors=True)


class TestProjectPipeline:
    def test_customer_pipeline_end_to_end(self, spark, clean_out, monkeypatch):
        monkeypatch.chdir(REPO)
        proj = Project(PROJECT_DIR, spark=spark)
        pipe = proj.pipeline("customer")
        pipe.execute()

        out = spark.read.parquet(OUT)
        # row 4 (null customer_id) dropped by the not_null/drop constraint +
        # filter step; nu_document excluded by inheritance; ds_login derived.
        assert out.count() == 3
        cols = set(out.columns)
        assert "nu_document" not in cols
        assert {"cd_customer", "nm_first_name", "nm_last_name", "ds_email",
                "ds_login", "hash_key", "updated_at", "created_at"} <= cols
        row = {r.cd_customer: r for r in out.collect()}
        assert row[1].nm_first_name == "JOHN"          # trimmed + uppered
        assert row[1].ds_email == "john.doe@example.com"  # lowered
        assert row[1].ds_login == "example.com"
        assert row[2].ds_login == "mail.org"

    def test_profile_overlay(self, spark):
        proj = Project(PROJECT_DIR, profile="prod", spark=spark)
        opts = proj.defaults.engine.options
        assert opts["spark.sql.shuffle.partitions"] == "256"

    def test_golden_test_mode(self, spark, clean_out, monkeypatch):
        monkeypatch.chdir(REPO)
        proj = Project(PROJECT_DIR, spark=spark)
        pipe = proj.pipeline("customer")
        pipe.read()
        result = pipe.run()
        expected = result  # self-comparison must pass
        pipe.golden_test(expected, actual=result)
        # and a mutated expectation must fail
        with pytest.raises(GoldenTestFailure):
            pipe.golden_test(result.filter("cd_customer != 1"), actual=result)

    def test_dynamic_source_path(self, spark, tmp_path, monkeypatch):
        monkeypatch.chdir(REPO)
        alt = tmp_path / "alt.csv"
        alt.write_text("customer_id,first_name,last_name,email,document\n"
                       "9,Zed,Zara,z@z.io,99\n")
        proj = Project(PROJECT_DIR, spark=spark)
        pipe = proj.pipeline("customer")
        pipe.read(src_paths={"customer_raw": str(alt)})
        result = pipe.run()
        rows = result.collect()
        assert len(rows) == 1 and rows[0].cd_customer == 9


class TestCli:
    def test_cli_run(self, spark, clean_out, monkeypatch):
        monkeypatch.chdir(REPO)
        from drune_spark import cli as cli_mod

        runner = CliRunner()
        result = runner.invoke(
            cli_mod.cli, ["run", "customer", "--project", PROJECT_DIR]
        )
        assert result.exit_code == 0, result.output
        assert "completed" in result.output
        assert spark.read.parquet(OUT).count() == 3

    def test_cli_golden_test_command(self, spark, tmp_path, monkeypatch):
        """`drune-spark test`: run the pipeline on its test source data
        and diff against the expected table (exceptAll both ways)."""
        from drune_spark import cli as cli_mod

        proj = tmp_path / "proj"
        (proj / "pipelines" / "p1").mkdir(parents=True)
        (proj / "drune.yml").write_text(
            "name: goldenproj\ndefaults:\n  engine: {name: spark}\n"
            "  paths: {pipelines: pipelines}\n")
        src = tmp_path / "in.csv"
        src.write_text("a,b\n1,x\n2,y\n")
        expected_dir = str(tmp_path / "expected")
        (proj / "pipelines" / "p1" / "pipeline.yml").write_text(f"""
pipeline_name: p1
sources:
  - name: s
    type: file
    format: csv
    path: {src}
    options: {{header: "true"}}
    schema:
      columns:
        - name: a
          type: int
        - name: b
          type: str
target:
  name: out
  type: file
  path: {tmp_path}/never_written
test:
  expected: {expected_dir}
""")
        spark.createDataFrame([(1, "x"), (2, "y")], ["a", "b"]) \
            .write.parquet(expected_dir)
        runner = CliRunner()
        result = runner.invoke(cli_mod.cli, ["test", "p1", "--project", str(proj)])
        assert result.exit_code == 0, result.output
        assert "golden test passed" in result.output
        # mutate the input -> diff detected
        src.write_text("a,b\n1,x\n99,zz\n")
        bad = runner.invoke(cli_mod.cli, ["test", "p1", "--project", str(proj)])
        assert bad.exit_code != 0

    def test_cli_validate_good_and_bad(self, tmp_path):
        """`drune-spark validate`: config-only check, no execution — a
        valid pipeline passes, bad rule/step/target configs are each
        reported with exit code 1, and no SparkSession is required."""
        from drune_spark import cli as cli_mod

        proj = tmp_path / "proj"
        (proj / "pipelines" / "good").mkdir(parents=True)
        (proj / "drune.yml").write_text(
            "name: vproj\ndefaults:\n  engine: {name: spark}\n"
            "  paths: {pipelines: pipelines}\n")
        good_yaml = """
pipeline_name: good
sources:
  - name: s
    type: file
    format: csv
    path: /tmp/nonexistent.csv
    schema:
      columns:
        - name: a
          type: int
          constraints:
            - rule: "isbetween:[0, 10]"
              on_fail: drop
steps:
  - name: f
    type: filter
    params: {where: "a > 0"}
target:
  name: out
  type: file
  path: /tmp/out
"""
        (proj / "pipelines" / "good" / "pipeline.yml").write_text(good_yaml)
        runner = CliRunner()
        ok = runner.invoke(cli_mod.cli, ["validate", "good",
                                         "--project", str(proj)])
        assert ok.exit_code == 0, ok.output
        assert "ok good" in ok.output

        (proj / "pipelines" / "bad").mkdir(parents=True)
        (proj / "pipelines" / "bad" / "pipeline.yml").write_text(
            good_yaml.replace("pipeline_name: good", "pipeline_name: bad")
                     .replace("isbetween:[0, 10]", "no_such_rule:[1]")
                     .replace("type: filter", "type: no_such_step")
        )
        bad = runner.invoke(cli_mod.cli, ["validate", "bad",
                                          "--project", str(proj)])
        assert bad.exit_code == 1
        assert "no_such_rule" in bad.output and "no_such_step" in bad.output

        # No name -> validates all; the bad one fails the run.
        both = runner.invoke(cli_mod.cli, ["validate", "--project", str(proj)])
        assert both.exit_code == 1
        assert "ok good" in both.output and "INVALID bad" in both.output

        # Broken YAML shape (pydantic) is also caught, not a traceback.
        (proj / "pipelines" / "shape").mkdir(parents=True)
        (proj / "pipelines" / "shape" / "pipeline.yml").write_text(
            "pipeline_name: shape\nsources: {not: a_list}\n")
        shape = runner.invoke(cli_mod.cli, ["validate", "shape",
                                            "--project", str(proj)])
        assert shape.exit_code == 1
        assert "INVALID shape" in shape.output

    def test_cli_init(self, tmp_path):
        from drune_spark import cli as cli_mod

        runner = CliRunner()
        target = str(tmp_path / "newproj")
        result = runner.invoke(cli_mod.cli, ["init", target])
        assert result.exit_code == 0
        assert os.path.exists(os.path.join(target, "drune.yml"))
        # init twice → clean error
        again = runner.invoke(cli_mod.cli, ["init", target])
        assert again.exit_code != 0


class TestDdl:
    def test_create_exists_update(self, spark, tmp_path):
        from drune_spark.catalog.ddl import (
            MetadataRegistry,
            build_create_ddl,
            table_exists,
        )
        from drune_spark.config.models import (
            ColumnSpec, ConstraintSpec, SchemaSpec, TargetSpec,
        )

        spark.sql("DROP TABLE IF EXISTS ddl_demo")
        spec = TargetSpec(
            name="d", type="table", table_name="ddl_demo", format="parquet",
            schema=SchemaSpec(
                primary_key=["k"],
                columns=[
                    ColumnSpec(name="k", type="long",
                               constraints=[ConstraintSpec(rule="not_null")],
                               comment="the key"),
                    ColumnSpec(name="v", type="str"),
                ],
            ),
        )
        ddl = build_create_ddl(spec)
        assert "`k` BIGINT NOT NULL COMMENT 'the key'" in ddl
        assert "'framework.primary_keys' = 'k'" in ddl

        meta = MetadataRegistry.get("spark_catalog", spark)
        meta.create(spec)
        assert table_exists(spark, "ddl_demo")
        assert meta.exists("ddl_demo")

        spec.schema_.columns.append(ColumnSpec(name="extra", type="double"))
        stmts = meta.update(spec)
        assert stmts and "ADD COLUMNS" in stmts[0]
        assert "extra" in {f.name for f in meta.get("ddl_demo").fields}
        assert meta.update(spec) == []  # idempotent
        spark.sql("DROP TABLE ddl_demo")


class TestCorpusPrepPipeline:
    def test_declarative_corpus_prep_chain(self, spark, tmp_path):
        """clean → dedup → decontaminate → mix → chunk expressed entirely
        as YAML-style steps; each stage delegates to the tested operator."""
        from drune_spark.config.models import PipelineModel
        from drune_spark.pipeline import Pipeline

        model = {
            "pipeline_name": "corpus_prep",
            "sources": [
                {"name": "docs", "type": "file", "format": "parquet",
                 "path": "/root/testdata/sf0.001/documents.parquet"},
                {"name": "eval_docs", "type": "sql",
                 "query": "SELECT * FROM docs WHERE doc_id % 17 = 0"},
            ],
            "steps": [
                {"name": "corpus", "type": "filter",
                 "params": {"source": "docs",
                            "where": "doc_id % 17 <> 0"}},
                {"name": "clean", "type": "quality_filter",
                 "params": {"text_col": "text", "id_col": "doc_id"}},
                {"name": "dedup", "type": "dedup",
                 "params": {"text_col": "text", "id_col": "doc_id"}},
                {"name": "decon", "type": "decontaminate",
                 "params": {"benchmark": "eval_docs", "text_col": "text",
                            "id_col": "doc_id", "min_shared": 4}},
                {"name": "mix", "type": "corpus_mix",
                 "params": {"source_col": "source", "key_col": "doc_id",
                            "weights": {"src0": 2.0},
                            "default_weight": 1.0}},
                {"name": "chunks", "type": "chunk",
                 "params": {"text_col": "text", "id_col": "doc_id",
                            "chunk_size": 32, "overlap": 8}},
            ],
            "target": {"name": "prep_out", "type": "file",
                       "format": "parquet",
                       "path": str(tmp_path / "out"), "mode": "overwrite"},
        }
        p = Pipeline(spark, PipelineModel.model_validate(model))
        p.execute()
        out = spark.read.parquet(str(tmp_path / "out" / "prep_out.parquet"))
        assert out.count() > 0
        assert set(out.columns) == {"doc_id", "chunk_id",
                                    "n_chunk_tokens", "chunk_text"}
        # eval docs were excluded before prep and src0 upsampling happened
        assert out.filter("doc_id % 17 = 0").count() == 0


class TestAnalyticsSteps:
    def test_profile_histogram_percentile_steps_chain(self, spark):
        from drune_spark.config.models import StepConfig
        from drune_spark.operators.registry import StepRunner
        import drune_spark.operators.llm_steps  # noqa: F401
        from pyspark.sql import functions as F

        df = spark.range(100).select(
            (F.col("id") % 4).alias("grp"),
            F.col("id").cast("double").alias("v"),
        )
        prof = StepRunner(spark).run(
            [StepConfig(name="p", type="profile", params={"source": "t"})],
            {"t": df}, None,
        )
        assert {r.col for r in prof.collect()} == {"grp", "v"}
        hist = StepRunner(spark).run(
            [StepConfig(name="h", type="histogram",
                        params={"source": "t", "column": "v",
                                "n_buckets": 4})],
            {"t": df}, None,
        )
        assert sum(r.n for r in hist.collect()) == 100
        pct = StepRunner(spark).run(
            [StepConfig(name="q", type="percentiles",
                        params={"source": "t", "column": "v",
                                "group_by": ["grp"],
                                "percentiles": [0.5]})],
            {"t": df}, None,
        )
        assert pct.count() == 4

    def test_bm25_and_zorder_steps(self, spark):
        from drune_spark.config.models import StepConfig
        from drune_spark.operators.registry import StepRunner
        import drune_spark.operators.llm_steps  # noqa: F401

        docs = spark.createDataFrame(
            [(0, "hash join"), (1, "scan sort")],
            "doc_id long, text string",
        )
        hits = StepRunner(spark).run(
            [StepConfig(name="s", type="bm25",
                        params={"source": "d",
                                "queries": [["q1", ["hash"]]]})],
            {"d": docs}, None,
        )
        assert [r.doc_id for r in hits.collect()] == [0]
        z = StepRunner(spark).run(
            [StepConfig(name="z", type="zorder",
                        params={"source": "d", "columns": ["doc_id"],
                                "bits": 4})],
            {"d": docs}, None,
        )
        assert "zval" in z.columns and z.count() == 2


class TestCorpusExamplePipeline:
    def test_cli_runs_llm_steps_chain(self, spark, monkeypatch):
        """The examples/project `corpus` pipeline: redact →
        quality_filter → dedup → chunk declaratively over the sf0.001
        documents table — the LLM-step surface consumed the way a
        drune user would."""
        monkeypatch.chdir(REPO)
        import shutil
        from drune_spark import cli as cli_mod

        out = "/tmp/drune_spark_example_corpus"
        shutil.rmtree(out, ignore_errors=True)
        runner = CliRunner()
        result = runner.invoke(
            cli_mod.cli, ["run", "corpus", "--project", PROJECT_DIR]
        )
        assert result.exit_code == 0, result.output
        chunks = spark.read.parquet(f"{out}/dm_corpus_chunks.parquet")
        assert chunks.count() > 0
        assert set(chunks.columns) >= {
            "doc_id", "chunk_id", "n_chunk_tokens", "chunk_text"}
        import pyspark.sql.functions as SF
        assert chunks.agg(
            SF.max("n_chunk_tokens")).collect()[0][0] <= 64
        # dedup ran: chunk doc_ids are unique per (doc, chunk)
        assert chunks.select("doc_id", "chunk_id").distinct().count() \
            == chunks.count()

    def test_corpus_pipeline_job_count(self, spark, monkeypatch):
        """redact → quality_filter → dedup → chunk runs in at most 4
        Spark jobs: a semi-join back onto the quality_filter input adds
        one. (A keep filter pushed into the scan stage does not change
        the count; TestQualityFilterStep pins that plan shape.)"""
        monkeypatch.chdir(REPO)
        shutil.rmtree("/tmp/drune_spark_example_corpus", ignore_errors=True)
        sc = spark.sparkContext
        group = "corpus_pipeline_job_count"
        sc.setJobGroup(group, "examples/project corpus pipeline")
        try:
            Project(PROJECT_DIR, spark=spark).pipeline("corpus").execute()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 0 < len(jobs) <= 4, sorted(jobs)


class TestPretrainExamplePipeline:
    def test_cli_runs_span_corrupt_chain(self, spark, monkeypatch):
        """The examples/project `pretrain` pipeline: token_screen →
        dedup → domain_mix → span_corrupt → pack declaratively — the
        round-8 denoising and learned-mixture stages inside one step
        chain."""
        monkeypatch.chdir(REPO)
        import shutil
        from drune_spark import cli as cli_mod

        out = "/tmp/drune_spark_example_pretrain"
        shutil.rmtree(out, ignore_errors=True)
        runner = CliRunner()
        result = runner.invoke(
            cli_mod.cli, ["run", "pretrain", "--project", PROJECT_DIR]
        )
        assert result.exit_code == 0, result.output
        seqs = spark.read.parquet(f"{out}/dm_pretrain_sequences.parquet")
        assert seqs.count() > 0
        assert set(seqs.columns) >= {
            "doc_id", "n_tokens", "pack_group", "seq_id"}
        import pyspark.sql.functions as SF
        # packing grouped into the declared 8 hash groups
        assert seqs.agg(SF.max("pack_group")).collect()[0][0] <= 7
