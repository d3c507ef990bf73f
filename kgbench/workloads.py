"""The benchmark workloads: how each one runs its CLI command, checks the
committed output against the generator's oracle, and splits one traced
pass of the command into layer spans.

A traced pass times lazy layers by running the plan up to and including
that layer to the ``noop`` sink, and eager layers (calls that run Spark
jobs themselves) as the call. ``MINUS`` says which spans each span
contains, so a layer's own share is its span minus those. The last span,
named by ``CLI``, is the real command; its own share is what the command
spends beyond the own shares of the other layers, so the own shares of one
pass add up to the command's traced wall time. ``ONE_PASS`` names the
spans whose sum computes every output of the command exactly once; the
command's executor time over theirs is its recompute ratio.
``ALSO_TRACED`` lists commands whose layers a workload's traced run traces
as well.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from spans import noop

PARTS = 64  # the CLI's default --parts


def parquet_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
    )


def parquet_files(d: str) -> int:
    return sum(1 for _, _, fs in os.walk(d) for f in fs if f.endswith(".parquet"))


class Check:
    """Outcome of one output check: ``problems`` empty means correct."""

    def __init__(self):
        self.problems: list[str] = []
        self.rows = 0
        self.bytes = 0

    def expect(self, what: str, got, want) -> None:
        if got != want:
            self.problems.append(f"{what}: got {got!r}, want {want!r}")


# ------------------------------------------------------------ pages_to_triples

class PagesToTriples:
    name = "pages_to_triples"
    CLI = "cli"
    ALSO_TRACED = ()
    size = 3_000
    MINUS = {
        "functions.text": ("sources.tables",),
        "operators.mentions.detect_mentions": ("functions.text",),
        "operators.mentions.link_mentions": ("operators.mentions.detect_mentions",),
        "operators.emit.emit_triples": ("operators.mentions.link_mentions",),
        "plans.pipeline": (
            "operators.emit.emit_triples", "operators.canonicalize",
            "operators.emit.integrity_check",
        ),
    }
    # the triples computed once: the emit prefix from the page scan on, and
    # the eager calls it needs
    ONE_PASS = (
        "operators.closure.close_ontology", "operators.canonicalize", "operators.emit.emit_triples",
    )

    @staticmethod
    def argv(d: str, out: str, master: str) -> list[str]:
        return [
            "--master", master, "pipeline",
            "--pages", f"{d}/pages", "--gazetteer", f"{d}/gazetteer",
            "--ontology", f"{d}/ontology", "--alias-edges", f"{d}/alias_edges",
            "--out", out, "--parts", str(PARTS), "--no-resume",
        ]

    @staticmethod
    def check(spark, d: str, meta: dict, out: str, stdout: str) -> Check:
        """Integrity violations are zero; the emitted kg:surfaceForm triples
        hold exactly the generator's (url, surface) pairs, each subject
        with one rdf:type, on a fixed page sample and in total; the
        order-insensitive triple-set hash is the same on every run of one
        input."""
        c = Check()
        printed = json.loads(stdout.strip().splitlines()[-1])
        c.expect("integrity violations", printed["n_integrity_violations"], 0)
        t = spark.read.parquet(f"{out}/triples")
        agg = t.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("pred") == "kg:surfaceForm").cast("long")).alias("surface"),
            F.sum((F.col("pred") == "rdf:type").cast("long")).alias("typed"),
            F.bit_xor(F.xxhash64("subj", "pred", "obj", "obj_datatype", "source_url")).alias("h"),
        ).first()
        c.expect("surfaceForm triples", agg["surface"], meta["expected_pairs"])
        c.expect("rdf:type triples", agg["typed"], meta["expected_pairs"])
        sample = meta["sample"]
        got = sorted(
            (r[0], r[1]) for r in t.filter(
                (F.col("pred") == "kg:surfaceForm") & F.col("source_url").isin(list(sample))
            ).select("source_url", "obj").collect()
        )
        want = sorted((u, s) for u, ss in sample.items() for s in ss)
        c.expect("sampled (url, surface) pairs", got, want)
        _same_digest(c, d, f"{agg['n']}:{agg['h']}")
        c.rows = agg["n"]
        c.bytes = parquet_bytes(f"{out}/triples")
        return c

    @staticmethod
    def trace_pass(spark, tr, d: str, out: str, master: str, run_cli) -> str:
        from rdf_i2b2_converter_spark.functions.text import extract_text
        from rdf_i2b2_converter_spark.operators.canonicalize import connected_components
        from rdf_i2b2_converter_spark.operators.closure import close_ontology
        from rdf_i2b2_converter_spark.operators.emit import emit_triples, integrity_check
        from rdf_i2b2_converter_spark.operators.mentions import detect_mentions, link_mentions
        from rdf_i2b2_converter_spark.plans.pipeline import run_pipeline

        with tr.span("sources.tables") as s:
            pages = spark.read.parquet(f"{d}/pages")
            s.rows_out = noop(pages)
        with tr.span("functions.text") as s:
            # the same split build_triples makes: extract only where text is null
            texted = pages.filter(F.col("text").isNotNull()).unionByName(
                pages.filter(F.col("text").isNull()).withColumn("text", extract_text(F.col("html")))
            )
            s.rows_out = noop(texted)
        gazetteer = spark.read.parquet(f"{d}/gazetteer")
        with tr.span("operators.mentions.detect_mentions") as s:
            mentions = detect_mentions(texted, gazetteer, passthrough_cols=("lang", "warc_ts"))
            s.rows_out = noop(mentions)
        with tr.span("operators.mentions.link_mentions") as s:
            linked = link_mentions(mentions, gazetteer)
            s.rows_out = noop(linked)
        edges = spark.read.parquet(f"{d}/alias_edges")
        with tr.span("operators.canonicalize") as s:
            mapping = connected_components(edges)
        s.rows_out = mapping.count()
        with tr.span("operators.closure.close_ontology") as s:
            closed = close_ontology(spark.read.parquet(f"{d}/ontology"))
        s.rows_out = closed.count()
        with tr.span("operators.emit.emit_triples") as s:
            triples = emit_triples(linked, canonical_mapping=mapping, n_parts=PARTS, dedup=False)
            s.rows_out = noop(triples)
        sink = f"{out}-plan"
        with tr.span("plans.pipeline") as s:
            _, metrics = run_pipeline(
                spark, pages, gazetteer, ontology_closed=closed, alias_edges=edges,
                sink_dir=sink, n_parts=PARTS, resume=False,
            )
            s.rows_out = metrics.n_triples
        s.extra["sink_files"] = parquet_files(f"{sink}/triples")
        with tr.span("operators.emit.integrity_check") as s:
            s.rows_out = integrity_check(spark.read.parquet(f"{sink}/triples"), closed).count()
        with tr.span(PagesToTriples.CLI):
            stdout = run_cli(PagesToTriples.argv(d, out, master))
        link = tr.spans["operators.mentions.link_mentions"]
        link.extra["link_yield"] = link.rows_out / max(
            1, tr.spans["operators.mentions.detect_mentions"].rows_out
        )
        return stdout


def _same_digest(c: Check, d: str, digest: str) -> None:
    """Compare with the digest of the first checked run on this input."""
    path = os.path.join(d, "triples_digest")
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write(digest)
    with open(path) as f:
        c.expect("triple-set digest", digest, f.read())


# ---------------------------------------------------------------- rdf_to_facts

class RdfToFacts:
    """The ``data`` command. Not a timed workload of its own: a timed run
    of it costs about 50 s, which the measurement's time budget does not
    hold next to the other two, so its layers are traced in the traced run
    of ``ontology_to_metadata``, the other half of the i2b2 conversion."""

    name = "rdf_to_facts"
    CLI = "cli.data"
    size = 200
    ENTRY = ["kg:Diagnosis"]
    OUTPUTS = ("observation_fact", "patient_mapping", "encounter_mapping")
    MINUS = {
        "plans.data_pipeline.assign_subtrees": ("sources.rdf",),
        "plans.data_pipeline.extract_observations": (
            "sources.rdf", "plans.data_pipeline.assign_subtrees",
        ),
    }
    # the observations materialized once, the three outputs derived from them
    ONE_PASS = ("plans.data_pipeline.extract_observations", "operators.postprod")

    @staticmethod
    def argv(d: str, out: str, master: str) -> list[str]:
        return [
            "--master", master, "data", "--triples", f"{d}/instances.ttl",
            "--entry-class", *RdfToFacts.ENTRY, "--out", out,
        ]

    @staticmethod
    def check(spark, d: str, meta: dict, out: str, stdout: str) -> Check:
        """Observation rows and the distinct patient and encounter numbers
        match the generator; both mappings hold exactly the generator's
        identifiers, numbered densely from 1 to n. Read with pyarrow, not
        Spark."""
        import pyarrow.dataset as ds

        c = Check()
        printed = json.loads(stdout.strip().splitlines()[-1])
        c.expect("printed observations", printed["n_observations"], meta["expected_observations"])
        t = {o: ds.dataset(f"{out}/{o}", format="parquet").to_table() for o in RdfToFacts.OUTPUTS}
        facts = t["observation_fact"]
        c.expect("observation rows", facts.num_rows, meta["expected_observations"])
        for col, want in (("patient_num", meta["patients"]), ("encounter_num", meta["encounters"])):
            mapping = t[col.split("_")[0] + "_mapping"].to_pydict()
            c.expect(f"{col} mapping keys", sorted(mapping[col]), want)
            c.expect(f"{col} mapping ids", sorted(mapping["new_id"]), list(range(1, len(want) + 1)))
            c.expect(f"distinct {col} in facts", sorted(set(facts.column(col).to_pylist())),
                     list(range(1, len(want) + 1)))
        c.rows = sum(x.num_rows for x in t.values())
        c.bytes = parquet_bytes(out)
        return c

    @staticmethod
    def trace_pass(spark, tr, d: str, out: str, master: str, run_cli) -> str:
        from rdf_i2b2_converter_spark.operators.postprod import reindex
        from rdf_i2b2_converter_spark.operators.rdfq import class_instances
        from rdf_i2b2_converter_spark.plans.data_pipeline import (
            assign_subtrees,
            extract_observations,
        )
        from rdf_i2b2_converter_spark.sources.rdf import read_turtle, turtle_doc_chunk_bytes

        path = f"{d}/instances.ttl"
        with tr.span("sources.rdf") as s:
            # read as the data command reads a .ttl file
            triples = read_turtle(
                spark, path, expand_prefixes=False, chunk_bytes=turtle_doc_chunk_bytes(spark, path)
            )
            s.rows_out = noop(triples)
        with tr.span("plans.data_pipeline.assign_subtrees") as s:
            subtrees = assign_subtrees(triples, class_instances(triples, RdfToFacts.ENTRY))
        s.rows_out = subtrees.count()
        with tr.span("plans.data_pipeline.extract_observations") as s:
            # extract_observations assigns subtrees again inside; MINUS
            # takes that call out of this layer's share. It is materialized
            # once, so the reindex span starts from it.
            obs = extract_observations(triples, RdfToFacts.ENTRY).localCheckpoint(eager=True)
        s.rows_out = obs.count()
        with tr.span("operators.postprod") as s:
            obs, patients = reindex(obs, "patient_num")
            obs, encounters = reindex(obs, "encounter_num")
            s.rows_out = sum(noop(df) for df in (obs, patients, encounters))
        with tr.span(RdfToFacts.CLI):
            return run_cli(RdfToFacts.argv(d, out, master))


# -------------------------------------------------------- ontology_to_metadata

class OntologyToMetadata:
    name = "ontology_to_metadata"
    CLI = "cli"
    ALSO_TRACED = (RdfToFacts,)
    size = 101_000
    OUTPUTS = ("metadata", "concept_dimension", "modifier_dimension", "table_access")
    MINUS = {
        "operators.closure.close_ontology": ("sources.tables",),
        "plans.ontology_pipeline": (
            "operators.closure.close_ontology", "operators.closure.attach_properties",
        ),
    }
    # build_metadata materialized once, the four outputs derived from it
    ONE_PASS = ("plans.ontology_pipeline",)

    @staticmethod
    def argv(d: str, out: str, master: str) -> list[str]:
        return ["--master", master, "ontology", "--ontology", f"{d}/ontology", "--out", out]

    @staticmethod
    def check(spark, d: str, meta: dict, out: str, stdout: str) -> Check:
        """The METADATA row count and a fixed sample of (path, chained
        code) rows match the Python walk of the DAG; concept and modifier
        rows partition METADATA; table_access holds the one root. Read
        with pyarrow, not Spark."""
        import pyarrow.dataset as ds

        c = Check()
        tables = {o: ds.dataset(f"{out}/{o}", format="parquet") for o in OntologyToMetadata.OUTPUTS}
        n = {o: t.count_rows() for o, t in tables.items()}
        c.expect("METADATA rows", n["metadata"], meta["expected_metadata"])
        c.expect("concept + modifier rows", n["concept_dimension"] + n["modifier_dimension"],
                 n["metadata"])
        c.expect("table_access rows", n["table_access"], 1)
        sample = meta["sample"]
        rows = tables["metadata"].to_table(columns=["c_fullname", "c_basecode"]).to_pydict()
        got = {p: code for p, code in zip(rows["c_fullname"], rows["c_basecode"]) if p in sample}
        c.expect("sampled (path, code) rows", got, sample)
        c.rows = sum(n.values())
        c.bytes = parquet_bytes(out)
        return c

    @staticmethod
    def trace_pass(spark, tr, d: str, out: str, master: str, run_cli) -> str:
        from rdf_i2b2_converter_spark.operators.closure import attach_properties, close_ontology
        from rdf_i2b2_converter_spark.plans import ontology_pipeline as op

        with tr.span("sources.tables") as s:
            ontology = spark.read.parquet(f"{d}/ontology")
            s.rows_out = noop(ontology)
        with tr.span("operators.closure.close_ontology") as s:
            closed = close_ontology(ontology)
        s.rows_out = closed.count()
        with tr.span("operators.closure.attach_properties") as s:
            modifiers = attach_properties(closed, ontology)
        s.rows_out = modifiers.count()
        with tr.span("plans.ontology_pipeline") as s:
            # build_metadata closes the ontology again inside; MINUS takes
            # those two calls out of this layer's share. It is materialized
            # once, so the four outputs share it as run_ontology_pipeline's
            # outputs would if nothing were computed twice.
            metadata = op.build_metadata(ontology).localCheckpoint(eager=True)
            s.rows_out = metadata.count() + sum(noop(gen(metadata)) for gen in (
                op.gen_concept_dimension, op.gen_modifier_dimension, op.gen_table_access))
        with tr.span(OntologyToMetadata.CLI):
            return run_cli(OntologyToMetadata.argv(d, out, master))


WORKLOADS = {w.name: w for w in (PagesToTriples, OntologyToMetadata)}

#: Every layer any workload traces, in pipeline order.
LAYERS = (
    "sources.tables",
    "functions.text",
    "operators.mentions.detect_mentions",
    "operators.mentions.link_mentions",
    "operators.canonicalize",
    "operators.closure.close_ontology",
    "operators.closure.attach_properties",
    "operators.emit.emit_triples",
    "plans.pipeline",
    "operators.emit.integrity_check",
    "sources.rdf",
    "plans.data_pipeline.assign_subtrees",
    "plans.data_pipeline.extract_observations",
    "operators.postprod",
    "cli.data",
    "plans.ontology_pipeline",
    "cli",
)
