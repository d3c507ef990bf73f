"""The three line parse stages (``ntriples_from_lines``, ``turtle_lines_plan``,
``jsonld_lines_plan``) are stateless and scope blank nodes per file, so they
accept any lines(file, value) DataFrame. Driving them from a
``readStream.text`` source that delivers one file per micro-batch must give
exactly the batch reader's rows: a collect, checkpoint or cross-file state
inside a stage fails the query or changes the rows."""

from pyspark.sql import functions as F


def _lines_stream(spark, path):
    return (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(path)
        .select(F.input_file_name().alias("file"), "value")
    )


def _drain(parsed, tmp_path, tag):
    out = str(tmp_path / f"{tag}_out")
    q = (
        parsed.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / f"{tag}_ckpt"))
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(120)
    return {tuple(r) for r in parsed.sparkSession.read.parquet(out).collect()}


def test_streaming_ntriples_source_matches_batch(spark, tmp_path):
    """The N-Triples expression plan parses each micro-batch to exactly the
    batch reader's rows, across multiple dropped files."""
    from rdf_i2b2_converter_spark.sources.rdf import ntriples_from_lines, read_ntriples

    drop = tmp_path / "nt_drop"
    drop.mkdir()
    (drop / "a.nt").write_text(
        "<http://e/s1> <http://e/p> <http://e/o> .\n"
        '<http://e/s1> <http://e/label> "hi \\"there\\""@en .\n'
        "garbage line\n"
    )
    (drop / "b.nt").write_text(
        '_:b1 <http://e/num> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
    )
    parsed = ntriples_from_lines(_lines_stream(spark, str(drop)), file_col="file")
    streamed = _drain(parsed, tmp_path, "nt")
    batch = {tuple(r) for r in read_ntriples(spark, str(drop)).collect()}
    assert streamed == batch and len(batch) == 3


def test_streaming_turtle_lines_source_matches_batch(spark, tmp_path):
    """The statement-per-line Turtle stage parses each micro-batch to exactly
    the batch line reader's rows, both compact and with a static prefix
    table expanded Catalyst-side."""
    from rdf_i2b2_converter_spark.sources.rdf import (
        _TRIPLE_COLS,
        _expand_col,
        read_turtle,
        turtle_lines_plan,
        turtle_prefixes,
    )

    drop = tmp_path / "ttl_drop"
    drop.mkdir()
    (drop / "a.ttl").write_text(
        "@prefix ex: <http://e/> .\n"
        "ex:s1 ex:p ex:o .\n"
        'ex:s1 ex:label "hi"@en .\n'
        "ex:s1 ex:n 42 .\n"
        "broken [ line\n"
    )
    (drop / "b.ttl").write_text(
        "@prefix ex: <http://e/> .\n"
        "_:b1 ex:num 7 .\n"
        "<http://raw/x> a ex:T .\n"
    )
    pfx = turtle_prefixes(spark, str(drop))
    for prefixes in (pfx, None):
        tag = "exp" if prefixes else "cmp"
        parsed = turtle_lines_plan(
            _lines_stream(spark, str(drop)), "defer" if prefixes else "compact"
        )
        triples = parsed.filter(F.col("kind") == "t")
        if prefixes:
            triples = triples.select(
                _expand_col("s", 1, prefixes),
                _expand_col("p", 2, prefixes),
                _expand_col("o", 4, prefixes),
                _expand_col("o_datatype", 8, prefixes),
                F.col("o_lang"),
            )
        else:
            triples = triples.select(*_TRIPLE_COLS)
        streamed = _drain(triples, tmp_path, f"ttl_{tag}")
        batch = {
            tuple(r)
            for r in read_turtle(
                spark, str(drop), expand_prefixes=prefixes is not None, multiline=False
            ).collect()
        }
        assert streamed == batch and len(batch) == 5, tag


def test_streaming_jsonld_lines_source_matches_batch(spark, tmp_path):
    """The NDJSON-LD mapInPandas stage parses each micro-batch to exactly the
    batch reader's rows (same static context, same per-file bnode
    scoping)."""
    from rdf_i2b2_converter_spark.sources.jsonld import jsonld_lines_plan, read_jsonld_lines

    ctx = {"ex": "http://e/", "knows": {"@id": "ex:knows", "@type": "@id"}}
    drop = tmp_path / "jl_drop"
    drop.mkdir()
    (drop / "a.jsonl").write_text(
        '{"@id": "ex:a", "@type": "ex:T", "ex:name": "Ada", "knows": "ex:b"}\n'
        "not json at all\n"
        '{"@id": "_:n1", "ex:name": "anon"}\n'
    )
    (drop / "b.jsonl").write_text(
        '{"@id": "ex:b", "ex:age": 36, "ex:pet": {"ex:name": "Mog"}}\n'
    )
    parsed = jsonld_lines_plan(_lines_stream(spark, str(drop)), ctx)
    streamed = _drain(parsed, tmp_path, "jl")
    batch = {tuple(r) for r in read_jsonld_lines(spark, str(drop), context=ctx).collect()}
    assert streamed == batch and len(batch) >= 6
