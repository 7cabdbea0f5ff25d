"""jobs/predict_job.py end-to-end in-process: sentences file -> fused
extraction -> JSONL predictions; with --graph, serving-time linking
against a persisted nodes table (left join — novel entities kept)."""

import json
import sys

import pytest


def _write_sentences(tmp_path, n=30):
    from kgforge.fixtures import gen_repo_rows

    p = tmp_path / "sentences.txt"
    with open(p, "w") as f:
        for row in gen_repo_rows(n):
            for sent in row["content"].split(". "):
                if sent.strip():
                    f.write(sent.strip() + "\n")
    return p


def _write_graph(spark, tmp_path):
    """kg_job-style output of the 30-repo fixture corpus: its nodes table
    under ``tmp_path/kg_out``."""
    from kgforge.fixtures import gen_repo_rows
    from kgforge.lineage import run_kg_pipeline

    out_graph = tmp_path / "kg_out"
    res = run_kg_pipeline(spark, spark.createDataFrame(gen_repo_rows(30)), str(tmp_path / "wd"))
    res["nodes"].write.parquet(str(out_graph / "nodes"))
    return out_graph


def test_predict_job_text_input(spark, tmp_path, capsys, monkeypatch):
    from jobs.predict_job import main

    sents = _write_sentences(tmp_path)
    out = tmp_path / "pred"
    monkeypatch.setattr(sys, "argv", [
        "predict_job.py", "--sentences", str(sents), "--output", str(out),
    ])
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["sentences"] > 0
    assert summary["triples"] > 0
    # each input LINE is its own payload group — without the per-line
    # path key every sentence collapses into one relations array
    # (regression found by the spark-submit smoke)
    assert 1 < summary["units_with_relations"] <= summary["triples"]

    # the JSONL payloads parse and follow the reference's predict shape
    lines = [
        json.loads(r.value)
        for r in spark.read.text(str(out)).collect()
    ]
    assert lines and all("relations" in d for d in lines)
    rel = lines[0]["relations"][0]
    assert set(rel) == {"subject", "relation", "object"}


def test_predict_job_graph_linking(spark, tmp_path, capsys, monkeypatch):
    """--graph: endpoints known to the persisted graph carry canonical
    ids; the join is LEFT so novel-surface triples survive unlinked."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.predict_job import main

    out_graph = _write_graph(spark, tmp_path)
    sents = _write_sentences(tmp_path, n=30)
    out = tmp_path / "pred"
    monkeypatch.setattr(sys, "argv", [
        "predict_job.py", "--sentences", str(sents), "--output", str(out),
        "--graph", str(out_graph),
    ])
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # same corpus built the graph -> most serving triples link fully
    assert summary["triples_fully_linked"] > 0
    assert summary["triples_fully_linked"] <= summary["triples"]

    # the canonical ids REACH the written payload (r5 ADVICE): linked
    # relations carry subject_id/object_id; novel endpoints omit the
    # field (to_json drops nulls)
    lines = [
        json.loads(r.value)
        for r in spark.read.text(str(out)).collect()
    ]
    rels = [rel for d in lines for rel in d["relations"]]
    assert any("subject_id" in rel and "object_id" in rel for rel in rels)


def _relation_sentences(n=3):
    """``n`` distinct fixture sentences that each yield >= 1 triple."""
    from kgforge.eval import predict_text
    from kgforge.fixtures import gen_repo_rows

    out = []
    for row in gen_repo_rows(30):
        for sent in row["content"].split(". "):
            sent = sent.strip()
            if sent and sent not in out and predict_text(sent):
                out.append(sent)
                if len(out) == n:
                    return out
    raise AssertionError("fixture corpus has too few relation sentences")


@pytest.mark.parametrize("fmt", ["text", "json", "parquet"])
def test_read_sentences_one_payload_per_row(spark, tmp_path, capsys,
                                            monkeypatch, fmt):
    """Every relation-bearing input row is its own payload, whatever the
    input format: rows without a path column get a per-row key, or
    assemble_predict_json's (repo, path, unit_id) key merges them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.predict_job import main

    sents = _relation_sentences()
    src = tmp_path / f"sentences.{fmt}"
    if fmt == "text":
        src.write_text("".join(s + "\n" for s in sents))
    elif fmt == "json":
        src.write_text("".join(json.dumps({"content": s}) + "\n" for s in sents))
    else:
        pq.write_table(pa.table({"content": sents}), src)
    out = tmp_path / "pred"
    monkeypatch.setattr(sys, "argv", [
        "predict_job.py", "--sentences", str(src), "--output", str(out),
        "--format", fmt,
    ])
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    main()
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["units_with_relations"] == len(sents)
    assert len(spark.read.text(str(out)).collect()) == len(sents)


def _write_nodes(path, sents, id_base):
    """A nodes table holding every endpoint the sentences extract, with
    ids ``id_base + k``; returns (surface, ent_type) -> id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kgforge.eval import predict_text

    ids = {}
    for s in sents:
        for t in predict_text(s):
            for key in ((t["subj"], t["subj_type"]), (t["obj"], t["obj_type"])):
                ids.setdefault(key, id_base + len(ids))
    pq.write_table(pa.table({
        "canonical_id": pa.array(list(ids.values()), pa.int64()),
        "ent_type": [k[1] for k in ids],
        "surface_forms": [[k[0]] for k in ids],
        "mention_count": pa.array([1] * len(ids), pa.int64()),
    }), path)
    return ids


def _request(spark, sents, nodes, group):
    """One serving request as perfbench's untraced ops run it, one plan
    from extract through link and assemble to collect, under job group
    ``group``: (payloads, jobs)."""
    from jobs.predict_job import link_against_graph
    from kgforge.extract.pipeline import extract_pipeline
    from kgforge.io.sinks import assemble_predict_json

    sc = spark.sparkContext
    rows = [("predict", f"line-{i}", "-", "txt", s) for i, s in enumerate(sents)]
    sc.setJobGroup(group, group)
    try:
        triples = extract_pipeline(spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, "
                  "content string"), "fused")
        got = assemble_predict_json(link_against_graph(triples, nodes)).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return [json.loads(r.payload)["relations"] for r in got], jobs


def _linked_ids(payloads):
    """{(surface, id)} over every relation endpoint of the payloads."""
    return {(rel[end], rel.get(end + "_id")) for rels in payloads
            for rel in rels for end in ("subject", "object")}


def test_serving_dim_built_once_per_loaded_graph(spark, tmp_path):
    """The dim is built by the first request against a nodes handle and
    reused by later ones; a fresh read of a rewritten graph links to the
    new ids — no stale dim survives a reload."""
    sents = _relation_sentences(4)
    graph = tmp_path / "nodes"
    ids = _write_nodes(graph, sents, 100)

    nodes = spark.read.parquet(str(graph))
    first, jobs_first = _request(spark, sents, nodes, "dim-first")
    second, jobs_second = _request(spark, sents, nodes, "dim-second")
    assert second == first
    assert jobs_second <= 3
    assert jobs_second < jobs_first
    assert _linked_ids(first) == {(s, i) for (s, _), i in ids.items()}

    new_ids = _write_nodes(graph, sents, 5000)  # same files, new ids
    reloaded = spark.read.parquet(str(graph))
    third, _ = _request(spark, sents, reloaded, "dim-reload")
    assert _linked_ids(third) == {(s, i) for (s, _), i in new_ids.items()}
    # the old handle keeps its snapshot (documented in serving_dim)
    assert _request(spark, sents, nodes, "dim-stale")[0] == first


def test_serving_empty_graph_and_empty_request(spark, tmp_path):
    """A nodes handle with no rows links nothing, and a request whose
    sentences yield no triples returns no payloads — neither errors."""
    from kgforge.eval import predict_text

    empty = spark.createDataFrame(
        [], "canonical_id bigint, ent_type string, "
            "surface_forms array<string>, mention_count bigint")
    sents = _relation_sentences(2)
    got, _ = _request(spark, sents, empty, "dim-empty-graph")
    assert len(got) == len(sents)
    assert all(set(rel) == {"subject", "relation", "object"}
               for rels in got for rel in rels)

    quiet = ["nothing to see here", "the weather is fine"]
    assert not any(predict_text(s) for s in quiet)
    graph = tmp_path / "nodes"
    _write_nodes(graph, sents, 100)
    for nodes in (empty, spark.read.parquet(str(graph))):
        assert _request(spark, quiet, nodes, "dim-no-triples")[0] == []


def test_predict_job_summary_observed_in_its_write(spark, tmp_path, capsys, monkeypatch):
    """With --graph, main takes its summary from Observations on the
    frames its one write consumes and from the write itself, with no
    checkpoint and no count pass: at most 8 Spark jobs, where two
    localCheckpoints and four count passes took 19.  Every count equals a
    re-read: sentences of the input, the rest of the written payloads."""
    from jobs.predict_job import main, read_sentences

    out_graph = _write_graph(spark, tmp_path)
    sents = _write_sentences(tmp_path, n=30)
    out = tmp_path / "pred"
    monkeypatch.setattr(sys, "argv", [
        "predict_job.py", "--sentences", str(sents), "--output", str(out),
        "--graph", str(out_graph),
    ])
    monkeypatch.setattr("pyspark.sql.SparkSession.stop", lambda self: None)
    sc = spark.sparkContext
    sc.setJobGroup("predict-main-jobs", "predict-main-jobs")
    try:
        main()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup("predict-main-jobs"))
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    payloads = [json.loads(r.value)["relations"] for r in spark.read.text(str(out)).collect()]
    rels = [rel for rs in payloads for rel in rs]
    assert summary["sentences"] == read_sentences(spark, str(sents), "text").count()
    assert summary["units_with_relations"] == len(payloads)
    assert summary["triples"] == len(rels)
    assert summary["triples_fully_linked"] == sum(
        "subject_id" in rel and "object_id" in rel for rel in rels
    )
    assert 0 < summary["triples_fully_linked"] < summary["triples"]
    assert jobs <= 8
