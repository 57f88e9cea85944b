"""CLI-verb facade: every reference entry point end-to-end on testdata."""

from pyspark.sql import functions as F

from architxt_spark import pipeline
from architxt_spark.sources import FK


def test_load_corpus_with_annotations(spark):
    docs = spark.createDataFrame(
        [("d1", "Alice met Bob.\nCarol left.", "T1\tPERSON 0 5\tAlice\nT2\tPERSON 10 13\tBob\n")],
        "doc_id string, txt string, ann string",
    )
    nodes = pipeline.load_corpus(docs, entities_filter=["PERSON"])
    assert nodes.select("tree_id").distinct().count() == 2  # one tree per sentence
    ents = nodes.filter(F.col("node_type") == "ENT")
    assert ents.count() == 2
    assert {r["node_name"] for r in ents.collect()} == {"PERSON"}


def test_load_sql_simplify_export_sql(spark, sf_dir):
    tables = {
        "nation": spark.read.parquet(f"{sf_dir}/nation.parquet"),
        "region": spark.read.parquet(f"{sf_dir}/region.parquet"),
    }
    nodes = pipeline.load_sql(
        spark,
        tables,
        [FK("nation", "n_regionkey", "region", "r_regionkey")],
        {"nation": ["n_nationkey"], "region": ["r_regionkey"]},
    )
    out, schema = pipeline.simplify(nodes, epoch=2)
    assert schema.groups  # induction found the groups
    ddl, frames, order = pipeline.export_sql(out, typed=True)
    assert any(s.startswith("CREATE TABLE") for s in ddl)
    assert set(order) == set(frames) - {
        f for f in frames if f.endswith("_assoc")
    } or set(order) <= set(frames)
    nation = frames.get("nation")
    assert nation is not None and dict(nation.dtypes).get("n_nationkey") == "bigint"


def test_simplify_returns_rewrite_forest(spark, sf_dir, count_jobs):
    """``simplify`` hands on ``rewrite``'s forest unchanged: the rewrite
    already ends in ``simplify_names``, so a second naming pass would
    only add a driver collect and a join for every consumer."""
    from architxt_spark.operators import rewrite

    tables = {
        "nation": spark.read.parquet(f"{sf_dir}/nation.parquet"),
        "region": spark.read.parquet(f"{sf_dir}/region.parquet"),
    }
    nodes = pipeline.load_sql(
        spark,
        tables,
        [FK("nation", "n_regionkey", "region", "r_regionkey")],
        {"nation": ["n_nationkey"], "region": ["r_regionkey"]},
    ).localCheckpoint()
    box = {}
    jobs = count_jobs(lambda: box.update(result=pipeline.simplify(nodes, epoch=2)))
    out, schema = box["result"]
    assert schema.groups
    expected = rewrite(nodes, epoch=2)
    assert sorted(map(str, out.collect())) == sorted(map(str, expected.collect()))
    assert jobs == 37


def test_load_graph_and_export_cypher(spark, sf_dir):
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    gnodes = nat.select(
        F.concat(F.lit("N"), "n_nationkey").alias("id"),
        F.lit("Nation").alias("label"),
        F.col("n_name").alias("name"),
    ).unionByName(
        reg.select(
            F.concat(F.lit("R"), "r_regionkey").alias("id"),
            F.lit("Region").alias("label"),
            F.col("r_name").alias("name"),
        )
    )
    grels = nat.select(
        F.concat(F.lit("N"), "n_nationkey").alias("src"),
        F.concat(F.lit("R"), "n_regionkey").alias("dst"),
        F.lit("IN_REGION").alias("rel_type"),
    )
    forest = pipeline.load_graph(gnodes, grels)
    node_frames, rel_frames = pipeline.export_cypher(forest)
    assert "Nation" in node_frames and "Region" in node_frames
    assert node_frames["Region"].count() > 0


def test_load_documents(spark):
    docs = spark.createDataFrame(
        [("1", '{"name": "x", "tags": ["a", "b"]}')], "doc_id string, json string"
    )
    nodes = pipeline.load_documents(docs)
    assert nodes.filter(F.col("node_type") == "ENT").count() >= 1


def test_cli_load_document_simplify_stats(spark, tmp_path, capsys):
    """The argparse CLI drives the same verbs (`python -m architxt_spark`)."""
    from architxt_spark import cli

    doc = tmp_path / "shop.json"
    doc.write_text(
        '{"orders": ['
        '{"id": "1", "customer": {"name": "alice", "city": "paris"},'
        ' "items": [{"sku": "a1", "qty": "2"}, {"sku": "b2", "qty": "1"}]},'
        '{"id": "2", "customer": {"name": "bob", "city": "lyon"},'
        ' "items": [{"sku": "a1", "qty": "5"}]}]}'
    )
    nodes_dir = str(tmp_path / "nodes")
    cli.main(["load", "document", str(doc), "--out", nodes_dir])
    out_dir = str(tmp_path / "nodes2")
    cli.main(["simplify", nodes_dir, "--out", out_dir, "--epoch", "2"])
    captured = capsys.readouterr().out
    assert "GROUP::" in captured  # inferred schema printed
    cli.main(["stats", out_dir])
    stats = capsys.readouterr().out
    assert '"n_trees": 2' in stats
    cli.main(["export", "sql", out_dir, "--ddl-only"])
    assert "CREATE TABLE" in capsys.readouterr().out


def test_cli_jsonl_round_trip(spark, tmp_path, capsys):
    """export jsonl -> load jsonl reproduces the forest (forest.py:25-64)."""
    from pyspark.sql import functions as F

    from architxt_spark import cli

    doc = tmp_path / "d.json"
    doc.write_text('[{"a": "1", "b": "2"}, {"a": "3", "b": "4"}]')
    nodes_dir = str(tmp_path / "nodes")
    cli.main(["load", "document", str(doc), "--out", nodes_dir])
    jl = str(tmp_path / "forest_jsonl")
    cli.main(["export", "jsonl", nodes_dir, "--out", jl])
    back_dir = str(tmp_path / "nodes_back")
    cli.main(["load", "jsonl", jl, "--out", back_dir])
    orig = spark.read.parquet(nodes_dir)
    back = spark.read.parquet(back_dir)
    assert back.count() == orig.count()
    key = lambda df: {
        tuple(r) for r in df.select("node_type", "node_name", "leaf_value", "depth").collect()
    }
    assert key(back) == key(orig)


def test_cli_generate_and_cleanup(spark, tmp_path, capsys):
    """Reference ``generate`` / ``cleanup`` verbs: synthetic instances of
    the demo schema, then a cleanup pass keeps only schema-valid trees."""
    from architxt_spark import cli

    gen_dir = str(tmp_path / "gen")
    cli.main(["generate", "--out", gen_dir, "--size", "5"])
    out = capsys.readouterr().out
    assert "GROUP::SOSY" in out and "REL::PRESCRIPTION" in out
    assert "generated 25 instances" in out  # 3 groups + 2 relations, 5 each

    clean_dir = str(tmp_path / "clean")
    cli.main(["cleanup", gen_dir, "--out", clean_dir, "--metrics"])
    out = capsys.readouterr().out
    assert "GROUP::" in out and '"n_trees"' in out

    back = spark.read.parquet(clean_dir)
    assert back.select("tree_id").distinct().count() == 25


def test_cached_load_corpus_hits_on_same_content(spark, tmp_path, monkeypatch):
    """Same corpus content + params -> parquet cache hit (no re-parse);
    changed content or params -> new key, re-parse."""
    import architxt_spark.pipeline as P

    docs = spark.createDataFrame(
        [("d1", "Alice likes apples . Bob hates rain .", None)],
        "doc_id string, txt string, ann string",
    )
    cache = str(tmp_path / "cache")

    calls = []
    real = P.load_corpus

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(P, "load_corpus", counting)

    first = P.cached_load_corpus(docs, cache_dir=cache).collect()
    assert len(calls) == 1 and first

    again = P.cached_load_corpus(docs, cache_dir=cache).collect()
    assert len(calls) == 1  # cache hit: load_corpus not re-invoked
    assert sorted(map(str, again)) == sorted(map(str, first))

    # different parse params -> different key -> re-parse
    P.cached_load_corpus(docs, cache_dir=cache, entities_filter=["X"]).collect()
    assert len(calls) == 2

    # different content -> different key
    docs2 = spark.createDataFrame(
        [("d1", "Completely different text .", None)],
        "doc_id string, txt string, ann string",
    )
    P.cached_load_corpus(docs2, cache_dir=cache)
    assert len(calls) == 3


def test_cached_load_corpus_misses_on_component_change(spark, tmp_path, monkeypatch):
    """Extractor / resolver / parser-partial-kwargs identity is part of the
    cache key: swapping any of them must MISS, not silently return the
    other pipeline's parse (reference ``_get_cache_key`` hashes language +
    extractor.name + resolver.name)."""
    import functools

    import architxt_spark.pipeline as P
    from architxt_spark.nlp.enrich import DictResolver, RegexExtractor

    docs = spark.createDataFrame(
        [("d1", "Alice likes apples .", None)],
        "doc_id string, txt string, ann string",
    )
    cache = str(tmp_path / "cache")

    calls = []
    real = P.load_corpus

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(P, "load_corpus", counting)

    P.cached_load_corpus(docs, cache_dir=cache).collect()
    assert len(calls) == 1

    # adding an extractor must miss; re-running with the SAME config hits
    ex = RegexExtractor({"FRUIT": r"\bapples\b"})
    P.cached_load_corpus(docs, cache_dir=cache, extractor=ex).collect()
    assert len(calls) == 2
    P.cached_load_corpus(
        docs, cache_dir=cache, extractor=RegexExtractor({"FRUIT": r"\bapples\b"})
    ).collect()
    assert len(calls) == 2
    # a different pattern set is a different extractor identity
    P.cached_load_corpus(
        docs, cache_dir=cache, extractor=RegexExtractor({"NAME": r"\bAlice\b"})
    ).collect()
    assert len(calls) == 3

    # resolver identity counts too
    P.cached_load_corpus(
        docs, cache_dir=cache, resolver=DictResolver({"apples": "apple"})
    ).collect()
    assert len(calls) == 4

    # parser partial KEYWORDS count: language=... must not be dropped
    from architxt_spark.nlp.parser import StubParser

    p_en = functools.partial(StubParser, language="en")
    p_fr = functools.partial(StubParser, language="fr")
    k_en = P._component_id(p_en)
    k_fr = P._component_id(p_fr)
    assert k_en != k_fr and "language" in k_en


def test_cli_curate(spark, tmp_path, capsys):
    """The curate verb runs the pretraining chain end to end from the CLI:
    census printed per stage, survivors written to parquet."""
    from architxt_spark import cli

    import random

    rng = random.Random(7)
    words = (
        "the quick brown fox jumps over lazy dog sun sets behind distant "
        "hills children play near quiet river bank morning evening winter "
        "summer garden market stories travel music painting harbor"
    ).split()
    # "the and" prefix guarantees the stopword-ratio gate passes
    texts = ["the and " + " ".join(rng.sample(words, 22)) for _ in range(8)]
    rows = [(i, texts[i], "en", 40 + i) for i in range(8)] + [
        (100, "junk", "en", 1),
        (101, texts[0], "en", 40),  # exact duplicate of doc 0
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text", "lang", "n_chars"]).write.parquet(src)

    out = str(tmp_path / "kept")
    cli.main([
        "curate", src, "--out", out,
        "--mixture-col", "lang", "--mixture-counts", '{"en": 5}',
        "--pack-token-col", "n_chars", "--pack-budget", "120",
    ])
    census = dict(
        ln.split("\t") for ln in capsys.readouterr().out.strip().splitlines()
    )
    assert census["input"] == "10" and census["quality"] == "9"
    assert int(census["dedup"]) <= 8 and census["sample"] == "5"
    assert int(census["pack"]) >= 1
    kept = spark.read.parquet(out)
    assert kept.count() == 5
    assert {"pack_bucket", "pack_seq", "pack_offset"} <= set(kept.columns)


def test_cli_curate_from_warc(spark, tmp_path, capsys):
    """The full round-6 chain from the CLI: WARC archives in, C4 line
    clean + gate + dedup, partitioned corpus sink out with manifest."""
    from architxt_spark import cli
    from architxt_spark.sources.warc import build_warc

    import random

    rng = random.Random(13)
    words = (
        "the quick brown fox jumps over lazy dog sun sets behind distant "
        "hills children play near quiet river bank morning evening winter "
        "summer garden market stories travel music painting harbor"
    ).split()

    def page(i):
        # four 8-word sentences (terminal punct) + a boilerplate line;
        # "the and" keeps the stopword gate happy
        sents = [
            "The and " + " ".join(rng.sample(words, 8)) + "." for _ in range(4)
        ]
        sents.insert(2, "Please enable javascript to view this page.")
        body = "".join(f"<p>{s}</p>" for s in sents)
        return f"<html><body>{body}</body></html>".encode()

    recs = [
        {"warc_type": "response", "target_uri": f"http://ex/{i}", "payload": page(i)}
        for i in range(6)
    ]
    # same canonical URL as record 0 (fragment + tracking param differ)
    recs.append(
        {"warc_type": "response", "target_uri": "http://ex/0?utm_source=x#frag",
         "payload": page(99)}
    )
    warc_dir = tmp_path / "crawl"
    warc_dir.mkdir()
    (warc_dir / "a.warc").write_bytes(build_warc(recs))

    out = str(tmp_path / "corpus")
    cli.main([
        "curate", str(warc_dir), "--out", out,
        "--warc", "--split-bytes", "700",  # byte-range splits, not per-file
        "--url-dedup", "--line-clean", "--partition-by", "url",
    ])
    census = dict(
        ln.split("\t") for ln in capsys.readouterr().out.strip().splitlines()
    )
    # 7 records, 6 canonical URLs after url-dedup
    assert census["input"] == "6" and census["clean"] == "6"
    kept = spark.read.parquet(f"{out}/data")
    assert 1 <= kept.count() <= 6
    for r in kept.collect():
        assert "javascript" not in r.text and "<p>" not in r.text
    manifest = spark.read.parquet(f"{out}/manifest")
    assert manifest.count() == kept.select("url").distinct().count()


def test_cli_compact(spark, tmp_path, capsys):
    from architxt_spark import cli
    from architxt_spark.sinks.corpus import corpus_manifest

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "corpus")
    for half in ("doc_id % 2 = 0", "doc_id % 2 = 1"):
        docs.filter(half).coalesce(1).write.mode("append").partitionBy("lang").parquet(
            f"{path}/data"
        )
    corpus_manifest(docs, ["lang"]).write.parquet(f"{path}/manifest")
    cli.main(["compact", path])
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == docs.select("lang").distinct().count()
    assert spark.read.parquet(f"{path}/data").count() == docs.count()


def test_cli_verify_corpus(spark, tmp_path, capsys):
    import os

    import pytest

    from architxt_spark import cli
    from architxt_spark.sinks.corpus import write_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "corpus")
    write_corpus(docs, path, partition_cols=["lang"])
    cli.main(["verify-corpus", path])
    out = capsys.readouterr().out
    assert out.count("OK ") == docs.select("lang").distinct().count()
    # tamper one partition -> nonzero exit
    victim = sorted(
        d for d in os.listdir(f"{path}/data") if d.startswith("lang=")
    )[0]
    for f in os.listdir(f"{path}/data/{victim}"):
        if f.endswith(".parquet"):
            os.remove(f"{path}/data/{victim}/{f}")
    with pytest.raises(SystemExit):
        cli.main(["verify-corpus", path])
    assert "BAD" in capsys.readouterr().out


def test_cli_compare_and_llm_simplify(spark, tmp_path, capsys):
    """r7 parity verbs: `compare` prints side-by-side entity counts +
    forest stats + coverage (reference cli/__init__.py:371-436);
    `simplify --llm` runs the normalizer pass before the rule fixpoint
    (reference simplify_llm, cli/__init__.py:189)."""
    import json as _json

    from architxt_spark import cli

    doc = tmp_path / "a.json"
    doc.write_text('[{"name": "alice", "city": "paris"}, {"name": "bob", "city": "lyon"}]')
    src_dir = str(tmp_path / "src")
    cli.main(["load", "document", str(doc), "--out", src_dir])
    capsys.readouterr()

    dst_dir = str(tmp_path / "dst")
    cli.main(["simplify", src_dir, "--out", dst_dir, "--epoch", "2", "--llm"])
    assert "GROUP::" in capsys.readouterr().out  # schema still inferred

    cli.main(["compare", src_dir, dst_dir])
    report = _json.loads(capsys.readouterr().out)
    assert set(report) == {"entities", "stats", "coverage"}
    assert report["stats"]["source"]["n_trees"] == 2
    assert all(len(v) == 2 for v in report["entities"].values())
    assert 0.0 <= report["coverage"] <= 1.0


def test_cli_cache_clear(tmp_path, capsys):
    """r7 parity verb: cache-clear deletes the keyed parse-cache dirs
    (reference cli/__init__.py:467)."""
    from architxt_spark import cli

    cache = tmp_path / "cache"
    (cache / "k1").mkdir(parents=True)
    (cache / "k2").mkdir()
    (cache / "k1" / "part-0.parquet").write_text("x")
    cli.main(["cache-clear", "--cache-dir", str(cache)])
    assert "cleared 2" in capsys.readouterr().out
    assert not any(cache.iterdir())
    # idempotent on a missing dir
    cli.main(["cache-clear", "--cache-dir", str(tmp_path / "nope")])
    assert "already empty" in capsys.readouterr().out


def test_cli_curate_full_recipe(spark, tmp_path, capsys):
    """Every published-recipe stage from the COMMAND LINE: domain screen,
    eval-set decontamination, reference-trained ppl tail-drop, classifier
    gate, mixture, packing — the 9-row census the API produces, now
    reachable with flags alone (reference CLI-knob parity)."""
    from architxt_spark import cli

    import random

    rng = random.Random(11)
    words = (
        "the quick brown fox jumps over lazy dog sun sets behind distant "
        "hills children play near quiet river bank morning evening winter "
        "summer garden market stories travel music painting harbor"
    ).split()
    good = " careful analysis explains the detailed history of science"
    junk = " casino bonus casino jackpot spins winner casino bonus prize"

    texts = [
        "the and " + " ".join(rng.sample(words, 22))
        + (good if i % 2 else junk) + f" item {i}"
        for i in range(16)
    ]

    def text(i):
        return texts[i]

    rows = [
        (i, text(i), "en", ("mirror.net" if i in (4, 6) else f"site{i}.com"), 40 + i)
        for i in range(16)
    ] + [
        (100, "junk", "en", "site0.com", 1),
        (101, text(0), "en", "site0.com", 40),  # exact duplicate
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(src)
    # eval set: near-dup of doc 2's text
    bench = str(tmp_path / "bench")
    spark.createDataFrame([(9000, text(2))], ["doc_id", "text"]).write.parquet(bench)
    ref = str(tmp_path / "ref")
    spark.createDataFrame(
        [(1000 + j, text(2 * j + 1)) for j in range(3)], ["doc_id", "text"]
    ).write.parquet(ref)
    pos = str(tmp_path / "pos")
    spark.createDataFrame(
        [(2000 + j, "the and story time" + good + f" seed {j}") for j in range(4)],
        ["doc_id", "text"],
    ).write.parquet(pos)
    neg = str(tmp_path / "neg")
    spark.createDataFrame(
        [(3000 + j, "the and story time" + junk + f" seed {j}") for j in range(4)],
        ["doc_id", "text"],
    ).write.parquet(neg)

    out = str(tmp_path / "kept")
    cli.main([
        "curate", src, "--out", out,
        "--domain-col", "source", "--domain-blocklist", "spam.biz",
        "--max-dup-fraction", "0.5",
        "--decontaminate-against", bench,
        "--ppl-drop-tail", "--ppl-train", ref,
        "--quality-model-pos", pos, "--quality-model-neg", neg,
        "--mixture-col", "lang", "--mixture-counts", '{"en": 3}',
        "--pack-token-col", "n_chars", "--pack-budget", "120",
    ])
    census = dict(
        ln.split("\t") for ln in capsys.readouterr().out.strip().splitlines()
    )
    expected = ["input", "quality", "domain", "dedup", "decontam", "ppl",
                "classifier", "sample", "pack"]
    assert list(census) == expected
    assert census["input"] == "18"
    assert int(census["domain"]) <= int(census["quality"])
    assert int(census["decontam"]) < int(census["dedup"])  # bench near-dup dropped
    assert int(census["classifier"]) <= int(census["ppl"])
    assert census["sample"] == "3"
    kept = spark.read.parquet(out)
    assert kept.count() == 3
    # classifier gate: survivors are good-marker docs only
    assert all(r.doc_id % 2 == 1 for r in kept.collect())


def test_cli_curate_jvm_nfc(spark, tmp_path, capsys):
    """--jvm-nfc with --unicode-clean: the curate verb registers the JVM
    NFC UDF (compiled from shipped source) and produces output identical
    to the Arrow-path run on a decomposed-unicode corpus."""
    import shutil

    import pytest as _pytest

    if shutil.which("javac") is None:
        _pytest.skip("no JDK javac")

    from architxt_spark import cli
    from architxt_spark.functions.text import JVM_NFC_FUNC

    rows = [
        (
            i,
            "the and caf\u00e9 nume\u0301ro "
            + " ".join("word%d%d" % (i, j) for j in range(20)),
            "en",
            60,
        )
        for i in range(6)
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text", "lang", "n_chars"]).write.parquet(src)

    out_arrow = str(tmp_path / "kept_arrow")
    spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {JVM_NFC_FUNC}")
    cli.main(["curate", src, "--out", out_arrow, "--unicode-clean"])
    capsys.readouterr()

    out_jvm = str(tmp_path / "kept_jvm")
    cli.main(["curate", src, "--out", out_jvm, "--unicode-clean", "--jvm-nfc"])
    census = dict(
        ln.split("\t") for ln in capsys.readouterr().out.strip().splitlines()
    )
    assert census["input"] == "6"
    assert spark.catalog.functionExists(JVM_NFC_FUNC)  # seam actually taken
    try:
        a = sorted((r["doc_id"], r["text"]) for r in spark.read.parquet(out_arrow).collect())
        b = sorted((r["doc_id"], r["text"]) for r in spark.read.parquet(out_jvm).collect())
        assert a == b and len(a) == 6
        assert all("café" in t for _, t in b)  # NFC actually composed
    finally:
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {JVM_NFC_FUNC}")


def test_cli_curate_token_budget_mixture(spark, tmp_path, capsys):
    """--mixture-token-budgets: the curate verb samples by token budget
    (kept stratum token totals never exceed the budget; mutually
    exclusive with --mixture-counts)."""
    from architxt_spark import cli

    rows = [
        (i, "the and " + " ".join("tok%d%d" % (i, j) for j in range(18)),
         ["en", "fr"][i % 2], 50 + i)
        for i in range(20)
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, ["doc_id", "text", "lang", "n_chars"]).write.parquet(src)

    out = str(tmp_path / "kept")
    cli.main([
        "curate", src, "--out", out,
        "--mixture-col", "lang", "--mixture-token-budgets", '{"en": 300, "fr": 170}',
    ])
    census = dict(
        ln.split("\t") for ln in capsys.readouterr().out.strip().splitlines()
    )
    assert census["input"] == "20" and "sample" in census
    kept = spark.read.parquet(out)
    tot = {r["lang"]: r["t"] for r in kept.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["sum"]).sum("n_chars").alias("t")
    ).collect()}
    assert tot["en"] <= 300 and tot["fr"] <= 170
    assert kept.count() >= 2  # budgets admit at least one doc per stratum

    import pytest as _pytest

    from architxt_spark.functions.curation import curate_corpus

    with _pytest.raises(ValueError, match="mutually exclusive"):
        curate_corpus(
            spark.read.parquet(src),
            mixture_col="lang",
            mixture_counts={"en": 3},
            mixture_token_budgets={"en": 100},
        )
    # the count-DERIVING form is rejected up front too (before
    # temperature_counts would have run its collect jobs)
    with _pytest.raises(ValueError, match="mutually exclusive"):
        curate_corpus(
            spark.read.parquet(src),
            mixture_col="lang",
            mixture_total=5,
            mixture_strata=["en", "fr"],
            mixture_token_budgets={"en": 100},
        )
    # budgets without a mixture column is an error, not a silent no-op
    with _pytest.raises(ValueError, match="requires mixture_col"):
        curate_corpus(
            spark.read.parquet(src),
            mixture_token_budgets={"en": 100},
        )
    # pre-trained weights and seed frames are mutually exclusive (r10)
    d = spark.read.parquet(src)
    with _pytest.raises(ValueError, match="mutually"):
        curate_corpus(
            d,
            quality_model_pos=d.select("doc_id", "text"),
            quality_model_neg=d.select("doc_id", "text"),
            quality_model_weights=spark.createDataFrame([(0, 1)], "b long, w long"),
        )
    # a pre-trained model gates the classifier stage identically to
    # training on the same seeds inline
    from architxt_spark.functions.classifier import train_quality_classifier

    pos = d.filter("doc_id % 2 = 0").select("doc_id", "text")
    neg = d.filter("doc_id % 2 = 1").select("doc_id", "text")
    w = train_quality_classifier(pos, neg)
    _, c1 = curate_corpus(d, quality_model_pos=pos, quality_model_neg=neg)
    _, c2 = curate_corpus(d, quality_model_weights=w)
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))


def test_curate_corpus_rejects_internal_column_name(spark, count_jobs):
    """An input column named like the classifier gate's internal column
    fails at the driver with the column's name, before any Spark job."""
    import pytest as _pytest

    from architxt_spark.functions.curation import curate_corpus

    df = spark.createDataFrame(
        [(1, "some text here", True)], "doc_id long, text string, __cls_keep boolean"
    )

    def run():
        with _pytest.raises(ValueError, match="__cls_keep"):
            curate_corpus(df)

    assert count_jobs(run) == 0
