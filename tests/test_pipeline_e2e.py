"""End-to-end recipe run: csv source -> enrich -> file + console sinks —
the Spark translation of the reference e2e test (test/e2e/e2e_test.go,
mysql -> enrich -> kafka) per SURVEY.md §5 layer 3."""

from __future__ import annotations

import json

from meteor_spark.recipe.loader import parse_recipe
from meteor_spark.runner import Agent


def test_csv_enrich_file_e2e(spark, tmp_path):
    csv = tmp_path / "applicant.csv"
    csv.write_text("applicant_id,last_name,first_name\n1,test1,test11\n")
    csv2 = tmp_path / "jobs.csv"
    csv2.write_text("job_id,job,department\n2,test2,test22\n")
    out = tmp_path / "out.ndjson"

    recipe = parse_recipe(
        f"""
name: e2e
version: v1beta1
source:
  name: csv
  config:
    path: {tmp_path}
sinks:
  - name: file
    config:
      path: {out}
processors:
  - name: enrich
    config:
      fieldA: valueA
""",
        default_name="e2e",
    )
    agent = Agent(spark)
    assert agent.validate(recipe) == []
    run = agent.run(recipe)
    assert run.success, run.error
    # one Table asset per csv file (reference csv.go:146-167)
    assert run.record_count == 2

    lines = [json.loads(line) for line in out.read_text().splitlines()]
    by_name = {r["resource"]["name"]: r for r in lines}
    assert set(by_name) == {"applicant.csv", "jobs.csv"}
    # header-only columns, sorted by name (csv.go:131-144 + FIXTURES.md §7)
    cols = [c["name"] for c in by_name["applicant.csv"]["schema"]]
    assert cols == ["applicant_id", "first_name", "last_name"]
    assert all(c.get("data_type") is None for c in by_name["applicant.csv"]["schema"])
    # enrich merged config into properties.attributes (processor.go:57-86)
    attrs = json.loads(by_name["jobs.csv"]["properties"]["attributes"])
    assert attrs == {"fieldA": "valueA"}


def test_enrich_overwrites_existing_key(spark):
    from pyspark.sql import functions as F

    from meteor_spark.processors.enrich import merge_attributes
    from meteor_spark.sources.base import assets_df

    df = assets_df(
        spark,
        [{"resource": {"urn": "u1", "name": "n", "service": "s", "type": "t", "url": None, "description": None},
          "asset_type": "Table",
          "properties": {"tags": ["t1"], "labels": {"l": "1"}, "attributes": json.dumps({"keep": "old", "fieldA": "old"})}}],
    )
    out = merge_attributes(df, {"fieldA": "new"})
    row = out.select(F.col("properties.attributes")).first()[0]
    assert json.loads(row) == {"keep": "old", "fieldA": "new"}
    tags = out.select(F.col("properties.tags")).first()[0]
    assert tags == ["t1"]


def test_enrich_survives_malformed_attributes(spark):
    # regression: from_json returns NULL for malformed JSON and the NULL
    # map propagated through map_filter/map_concat, nulling the whole
    # facet; the reference sets config keys regardless
    from pyspark.sql import functions as F

    from meteor_spark.processors.enrich import merge_attributes
    from meteor_spark.sources.base import assets_df

    df = assets_df(
        spark,
        [{"resource": {"urn": "u1", "name": "n", "service": "s", "type": "t", "url": None, "description": None},
          "asset_type": "Table",
          "properties": {"tags": None, "labels": None, "attributes": "not-json"}}],
    )
    out = merge_attributes(df, {"team": "x"})
    row = out.select(F.col("properties.attributes")).first()[0]
    assert json.loads(row) == {"team": "x"}


def test_pack_processor_does_not_duplicate_token_col(spark):
    # regression: the manifest join re-attached n_tokens when the input
    # already carried one, making every downstream select AMBIGUOUS
    from meteor_spark import registry

    df = spark.createDataFrame(
        [(1, "s", 100, "t"), (2, "s", 200, "t")],
        "doc_id long, source string, n_tokens long, text string",
    )
    p = registry.processors.get("pack")
    p.init({"token_col": "n_tokens", "capacity": 512})
    out = p.process(df)
    assert out.columns.count("n_tokens") == 1
    assert out.select("n_tokens", "bin_id").count() == 2  # no AMBIGUOUS_REFERENCE


def test_filter_and_project_processors_in_recipe(spark, tmp_path):
    csv = tmp_path / "applicant.csv"
    csv.write_text("applicant_id,last_name\n1,a\n")
    csv2 = tmp_path / "jobs.csv"
    csv2.write_text("job_id,job\n2,b\n")
    out = tmp_path / "out.ndjson"

    recipe = parse_recipe(
        f"""
name: fp
version: v1beta1
source:
  name: csv
  config:
    path: {tmp_path}
sinks:
  - name: file
    config:
      path: {out}
processors:
  - name: filter
    config:
      where: "resource.name = 'jobs.csv'"
  - name: project
    config:
      columns: "resource, asset_type"
""",
        default_name="fp",
    )
    import json

    agent = Agent(spark)
    assert agent.validate(recipe) == []
    run = agent.run(recipe)
    assert run.success, run.error
    assert run.record_count == 1  # filter dropped applicant.csv
    rows = [json.loads(line) for line in out.read_text().splitlines()]
    assert len(rows) == 1
    assert rows[0]["resource"]["name"] == "jobs.csv"
    assert set(rows[0]) == {"resource", "asset_type"}  # projection applied


def test_filter_processor_rejects_missing_config(spark):
    from meteor_spark.registry import processors

    p = processors.get("filter")
    import pytest

    from meteor_spark.plugins_base import InvalidConfigError

    with pytest.raises(InvalidConfigError):
        p.init({})


def _mix_docs(path, texts, langs) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {
        "doc_id": [1, 2, 3, 4],
        "text": texts,
        "lang": langs,
        "source": ["a", "b", "a", "b"],
    }
    pq.write_table(pa.table(rows), path)


_MIX_BASE = " ".join(f"w{i}" for i in range(16))
_MIX_TEXTS = [
    _MIX_BASE,
    _MIX_BASE,
    "fresh unique words entirely " + " ".join(f"u{i}" for i in range(12)),
    "mas palabras unicas aqui " + " ".join(f"v{i}" for i in range(12)),
]
_MIX_LANGS = ["en", "en", "en", "es"]


def _mix_recipe(src, out, name: str = "mix"):
    """parquet_table -> [reweight, passage_dedup, interleave] -> parquet."""
    return parse_recipe(
        f"""
name: {name}
version: v1beta1
source:
  name: parquet_table
  config:
    path: {src}
processors:
  - name: reweight
    config:
      target_col: lang
      target_value: en
  - name: passage_dedup
    config:
      chunk_words: 8
  - name: interleave
    config: {{}}
sinks:
  - name: file
    config:
      path: {out}
      format: parquet
""",
        default_name=name,
    )


def test_mix_pipeline_e2e(spark, tmp_path):
    """parquet_table -> [reweight, passage_dedup, interleave] -> file:
    the data-mixing recipe surface over the round-3 curation ops."""
    src = tmp_path / "docs.parquet"
    _mix_docs(src, _MIX_TEXTS, _MIX_LANGS)
    out = tmp_path / "mixed"
    recipe = _mix_recipe(src, out)
    agent = Agent(spark)
    assert agent.validate(recipe) == []
    run = agent.run(recipe)
    assert run.success, run.error
    got = spark.read.parquet(str(out)).orderBy("position").collect()
    ids = [r.doc_id for r in got]
    assert 2 not in ids  # doc2 = full passage-level dup of doc1
    assert set(ids) == {1, 3, 4}
    cols = set(got[0].asDict())
    assert {"doc_id", "text", "lang", "source", "log_weight", "position"} <= cols
    # round-robin: the two sources alternate at the head of the order
    assert got[0].source != got[1].source
    # reweight kept the weight column populated
    assert all(r.log_weight is not None for r in got)


def test_mix_runs_release_their_caches(spark, tmp_path):
    """Agent.run owns every cache it or a processor makes: the
    CacheManager is empty after a run, so a source rewritten between
    runs is read fresh (a leaked reweight cache matches the new read by
    plan and serves the old file's weights), and run_multiple's
    concurrent runs each release their own."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    agent = Agent(spark)

    def weights(out):
        rows = spark.read.parquet(str(out)).orderBy("position").collect()
        return [(r.doc_id, r.log_weight) for r in rows]

    spark.catalog.clearCache()
    src = tmp_path / "docs.parquet"
    _mix_docs(src, _MIX_TEXTS, _MIX_LANGS)
    assert agent.run(_mix_recipe(src, tmp_path / "first")).success
    assert cache.isEmpty()

    _mix_docs(
        src,
        [
            "the quick brown fox " + " ".join(f"q{i}" for i in range(12)),
            "a slow green turtle " + " ".join(f"s{i}" for i in range(12)),
            _MIX_BASE,
            "otra frase nueva aqui " + " ".join(f"o{i}" for i in range(12)),
        ],
        ["es", "en", "en", "es"],
    )
    assert agent.run(_mix_recipe(src, tmp_path / "second")).success
    spark.catalog.clearCache()
    assert agent.run(_mix_recipe(src, tmp_path / "cold")).success
    assert weights(tmp_path / "second") == weights(tmp_path / "cold")
    assert weights(tmp_path / "cold") != weights(tmp_path / "first")

    src_a = tmp_path / "docs_a.parquet"
    _mix_docs(src_a, _MIX_TEXTS, _MIX_LANGS)
    runs = agent.run_multiple(
        [_mix_recipe(src, tmp_path / "m1", "m1"), _mix_recipe(src_a, tmp_path / "m2", "m2")]
    )
    assert all(r.success for r in runs), [r.error for r in runs]
    assert cache.isEmpty()
    assert weights(tmp_path / "m1") == weights(tmp_path / "cold")
    assert weights(tmp_path / "m2") == weights(tmp_path / "first")


def test_boilerplate_scrub_in_recipe(spark, tmp_path):
    """parquet_table -> boilerplate_scrub -> file: every copy of the
    hot passage is dropped (not keep-first), unique tails survive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    hot = " ".join(f"h{i}" for i in range(8))
    rows = {
        "doc_id": [1, 2, 3, 4],
        "text": [hot, hot, hot + " " + " ".join(f"u{i}" for i in range(8)), " ".join(f"v{i}" for i in range(8))],
        "lang": ["en"] * 4,
        "source": ["a"] * 4,
    }
    src = tmp_path / "docs.parquet"
    pq.write_table(pa.table(rows), src)
    out = tmp_path / "scrubbed"

    from meteor_spark.recipe.loader import parse_recipe
    from meteor_spark.runner import Agent

    recipe = parse_recipe(
        f"""
name: scrub
version: v1beta1
source:
  name: parquet_table
  config:
    path: {src}
processors:
  - name: boilerplate_scrub
    config:
      chunk_words: 8
      min_count: 3
sinks:
  - name: file
    config:
      path: {out}
      format: parquet
""",
        default_name="scrub",
    )
    agent = Agent(spark)
    assert agent.validate(recipe) == []
    run = agent.run(recipe)
    assert run.success, run.error
    got = {r.doc_id: r for r in spark.read.parquet(str(out)).collect()}
    # docs 1 and 2 were pure boilerplate (hot passage x3 corpus-wide) -> dropped
    assert set(got) == {3, 4}
    assert got[3].text == " ".join(f"u{i}" for i in range(8))  # hot head removed
    assert got[4].text == " ".join(f"v{i}" for i in range(8))  # cold doc intact


def test_pack_processor_in_recipe(spark, tmp_path):
    """parquet_table -> pack -> file: packing coords ride the recipe
    surface like any other mix step."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {
        "doc_id": [1, 2, 3],
        "text": ["a b c", "d e", "f g h i j"],
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
    }
    src = tmp_path / "docs.parquet"
    pq.write_table(pa.table(rows), src)
    out = tmp_path / "packed"

    from meteor_spark.recipe.loader import parse_recipe
    from meteor_spark.runner import Agent

    recipe = parse_recipe(
        f"""
name: pack
version: v1beta1
source:
  name: parquet_table
  config:
    path: {src}
processors:
  - name: pack
    config:
      mode: next_fit
      capacity: 5
sinks:
  - name: file
    config:
      path: {out}
      format: parquet
""",
        default_name="pack",
    )
    agent = Agent(spark)
    assert agent.validate(recipe) == []
    run = agent.run(recipe)
    assert run.success, run.error
    got = {r.doc_id: r for r in spark.read.parquet(str(out)).collect()}
    # 3+2 fills bin 0 exactly; the 5-token doc opens bin 1
    assert (got[1].bin_id, got[1].bin_offset) == (0, 0)
    assert (got[2].bin_id, got[2].bin_offset) == (0, 3)
    assert (got[3].bin_id, got[3].bin_offset) == (1, 0)
    assert "text" in got[1].asDict()  # original columns preserved
