"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed, size) and is written
once under ``<work>/inputs/<workload>-s<seed>-n<size>/``; ``meta.json`` is
written last and marks the directory complete, so a later run with the
same key reuses it. ``meta.json`` also carries what the oracles need:
expected counts and a fixed sample of expected output rows, computed here
in plain Python. Nothing here starts Spark, so a cache miss does not warm
the session before the first timed job.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

#: Page ids of seed s start at s * PAGE_ID_STRIDE, so seeds never share pages.
PAGE_ID_STRIDE = 10_000_000
PAGE_FILES = 8
SAMPLE = 200
MAX_BASECODE_LENGTH = 50  # i2b2 basecode width (reference src/utils.py)

ONTOLOGY_SCHEMA = pa.schema([
    pa.field("class_uri", pa.string(), nullable=False),
    pa.field("parent_uri", pa.string()),
    pa.field("kind", pa.string(), nullable=False),
    pa.field("label", pa.string()),
    pa.field("datatype", pa.string()),
    pa.field("terminology", pa.string()),
    pa.field("blacklisted", pa.bool_(), nullable=False),
])


def cached(work: str, workload: str, seed: int, size: int) -> tuple[str, dict]:
    """Input directory and meta for one key, generating it on a miss."""
    d = os.path.join(work, "inputs", f"{workload}-s{seed}-n{size}")
    try:
        with open(os.path.join(d, "meta.json")) as f:
            return d, json.load(f)
    except (OSError, ValueError):
        pass
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    meta = GENERATORS[workload](d, seed, size)
    meta["input_bytes"] = sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs
    )
    with open(os.path.join(d, "meta.json.tmp"), "w") as f:
        json.dump(meta, f)
    os.replace(os.path.join(d, "meta.json.tmp"), os.path.join(d, "meta.json"))
    return d, meta


def _write(d: str, name: str, rows: list[tuple], schema: pa.Schema, row_groups: int = 1) -> None:
    os.makedirs(os.path.join(d, name))
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({f.name: list(c) for f, c in zip(schema, cols)}, schema=schema),
        os.path.join(d, name, "part-00000.parquet"),
        row_group_size=max(1, -(-len(rows) // row_groups)),
    )


class _Rows:
    """Stands in for a session in the ``sources.synthetic`` functions that only
    hand their rows to ``createDataFrame``."""

    @staticmethod
    def createDataFrame(rows, schema=None):
        return rows


# ------------------------------------------------------------------ pages

def gen_pages(d: str, seed: int, n: int) -> dict:
    """``n`` html-only Common-Crawl-style pages (``text`` null, so the
    pipeline extracts text itself) from ``sources.synthetic.gen_doc`` with
    ids offset by the seed, in PAGE_FILES files; plus the synthetic
    gazetteer, alias edges and small ontology. Expected (url, surface)
    pairs come from the generator's own mention list."""
    from rdf_i2b2_converter_spark.sources import synthetic as syn

    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    base = seed * PAGE_ID_STRIDE
    os.makedirs(os.path.join(d, "pages"))
    n_pairs = 0
    sample: dict[str, list[str]] = {}
    stride = max(1, n // SAMPLE)
    per_file = -(-n // PAGE_FILES)
    for k in range(PAGE_FILES):
        cols: dict[str, list] = {f.name: [] for f in schema}
        for i in range(base + k * per_file, base + min(n, (k + 1) * per_file)):
            doc = syn.gen_doc(i)
            surfaces = sorted(set(doc["mentions"]))
            n_pairs += len(surfaces)
            if (i - base) % stride == 0:
                sample[doc["url"]] = surfaces
            cols["url"].append(doc["url"])
            cols["warc_ts"].append(doc["warc_ts"].replace(tzinfo=datetime.timezone.utc))
            cols["html"].append(doc["html"])
            cols["text"].append(None)
            cols["lang"].append(doc["lang"])
        pq.write_table(
            pa.table(cols, schema=schema),
            os.path.join(d, "pages", f"part-{k:05d}.parquet"),
        )
    _write(d, "gazetteer", syn.gen_gazetteer_rows(), pa.schema([
        pa.field("surface", pa.string(), nullable=False),
        pa.field("type_uri", pa.string(), nullable=False),
        pa.field("canonical_id", pa.string(), nullable=False),
        pa.field("weight", pa.float64(), nullable=False),
    ]))
    _write(d, "alias_edges", syn.gen_alias_edges(_Rows), pa.schema([
        pa.field("src_id", pa.string(), nullable=False),
        pa.field("dst_id", pa.string(), nullable=False),
    ]))
    _write(d, "ontology", syn.gen_ontology_rows(), ONTOLOGY_SCHEMA)
    return {"rows": n, "expected_pairs": n_pairs, "sample": sample}


# --------------------------------------------------------------- ontology

DEPTH = 6
FANOUT = 8
TERM_SUBTREE = 300


def _code(parent: str, uri: str) -> str:
    return hashlib.sha256((parent + uri + "\\").encode()).hexdigest()[:MAX_BASECODE_LENGTH]


def gen_ontology(d: str, seed: int, n: int) -> dict:
    """SNOMED-shaped class DAG with about ``n`` class rows and depth DEPTH:
    one root, levels that grow by FANOUT then stay flat, rare multi-parent leaf
    classes (one row per parent), a datatype property on one class in 50,
    and one snomed terminology subtree whose root has several
    same-terminology children, so its expansion is muted. The expected
    METADATA rows come from a plain Python walk of the DAG."""
    rng = random.Random(seed)
    C = "class"
    rows: list[tuple] = [("sct:Root", None, C, "Root", None, None, False)]
    levels: list[list[str]] = [["sct:Root"]]
    n_multi = n // 200
    n_tree = n - 2 - TERM_SUBTREE - 2 * n_multi
    # levels grow by FANOUT until they reach the flat width the rest shares
    flat, narrow = n_tree // DEPTH, []
    while True:
        narrow = [FANOUT ** lv for lv in range(1, DEPTH) if FANOUT ** lv < flat]
        wider = (n_tree - sum(narrow)) // (DEPTH - len(narrow))
        if wider == flat:
            break
        flat = wider
    widths = narrow + [flat] * (DEPTH - len(narrow))
    widths[-1] += n_tree - sum(widths)
    k = 0
    for w in widths:
        level = []
        for _ in range(w):
            uri = f"sct:C{k}"
            k += 1
            rows.append((uri, rng.choice(levels[-1]), C, uri[4:], None, None, False))
            level.append(uri)
        levels.append(level)
    rows.append(("snomed:Finding", rng.choice(levels[5]), C, "Finding", None, "snomed", False))
    term = ["snomed:Finding"]
    for t in range(TERM_SUBTREE):
        rows.append((f"snomed:F{t}", rng.choice(term), C, f"F{t}", None, "snomed", False))
        term.append(f"snomed:F{t}")
    for m in range(n_multi):
        for lv in rng.sample(range(1, DEPTH), 2):
            rows.append((f"sct:M{m}", rng.choice(levels[lv]), C, f"M{m}", None, None, False))
    n_class_rows = len(rows)
    rows += [
        (f"sct:p{i}", r[0], "property", f"p{i}", "xsd:double", None, False)
        for i, r in enumerate(rows[::50])
    ]
    _write(d, "ontology", rows, ONTOLOGY_SCHEMA, row_groups=8)
    expected = walk_ontology(rows)
    pick = random.Random(seed + 1).sample(sorted(expected), min(SAMPLE, len(expected)))
    return {
        "rows": len(rows),
        "class_rows": n_class_rows,
        "depth": DEPTH,
        "expected_metadata": len(expected),
        "sample": {p: expected[p] for p in pick},
    }


def walk_ontology(rows: list[tuple]) -> dict[str, str]:
    """path -> chained code of every METADATA row: classes reached from the
    roots, where a class with more than one child in its own terminology
    keeps its children unexpanded, then each property under every path of
    its domain class."""
    children: dict[str, list[str]] = {}
    props: dict[str, list[str]] = {}
    term: dict[str, str | None] = {}
    roots = []
    for uri, parent, kind, _label, _dt, terminology, _bl in rows:
        if kind == "property":
            props.setdefault(parent, []).append(uri)
            continue
        term[uri] = terminology
        if parent is None:
            roots.append(uri)
        else:
            children.setdefault(parent, []).append(uri)
    muted = {
        c for c, kids in children.items()
        if term[c] is not None and sum(term[k] == term[c] for k in kids) > 1
    }

    def local(uri: str) -> str:
        return uri.rsplit(":", 1)[-1]

    out: dict[str, str] = {}
    stack = [(r, "\\" + local(r) + "\\", _code("", r)) for r in roots]
    while stack:
        uri, path, code = stack.pop()
        out[path] = code
        for p in props.get(uri, ()):
            out[path + local(p) + "\\"] = _code(code, p)
        if uri not in muted:
            stack.extend(
                (c, path + local(c) + "\\", _code(code, c)) for c in children.get(uri, ())
            )
    return out


# ---------------------------------------------------------------- turtle

TTL_HEADER = "@prefix kg: <kg:> .\n@prefix snomed: <snomed:> .\n\n"
ROWS_PER_INSTANCE = 3  # the '@' concept row, the measurement value, the code


def gen_turtle(d: str, seed: int, n: int) -> dict:
    """A multi-line Turtle instance graph of ``n`` ``kg:Diagnosis``
    instances, each shaped like ``tests/test_data_pipeline.py::obs_graph``'s
    full instance: a patient, an encounter, a dateTime, a nested measurement
    with a numeric value and its unit, and a snomed-typed code. Patients and
    encounters are shared between instances. The expected rows and the
    patient and encounter sets come from the generator itself."""
    rng = random.Random(seed)
    n_patients = max(1, n // 4)
    patients: set[str] = set()
    encounters: set[str] = set()
    out = [TTL_HEADER]
    for p in range(n_patients):
        out.append(f'kg:subj{p} a kg:SubjectPseudoIdentifier ;\n    kg:hasIdentifier "s{seed}p{p}" .\n')
    for i in range(n):
        p = rng.randrange(n_patients)
        e = f"s{seed}e{p}-{rng.randrange(3)}"
        patients.add(f"s{seed}p{p}")
        if e not in encounters:
            encounters.add(e)
            out.append(f'kg:enc{e} a kg:Encounter ;\n    kg:hasIdentifier "{e}" .\n')
        day = datetime.datetime(2020, 1, 1) + datetime.timedelta(minutes=rng.randrange(10**6))
        out.append(
            f"kg:i{i} a kg:Diagnosis ;\n"
            f"    kg:hasSubject kg:subj{p} ;\n"
            f"    kg:hasEncounter kg:enc{e} ;\n"
            f'    kg:recordedAt "{day:%Y-%m-%d %H:%M:%S}"^^xsd:dateTime ;\n'
            f"    kg:hasMeasurement kg:m{i} ;\n"
            f"    kg:hasCode kg:c{i} .\n"
            f"kg:m{i} a kg:Measurement ;\n"
            f'    kg:hasValue "{rng.uniform(0, 20):.2f}"^^xsd:double ;\n'
            f"    kg:hasUnit kg:u{i % 7} .\n"
            f"kg:c{i} a snomed:C{rng.randrange(500)} .\n"
        )
    for u in range(min(n, 7)):
        out.append(f'kg:u{u} a kg:Unit ;\n    kg:hasCode "unit{u}" .\n')
    text = "".join(out)
    with open(os.path.join(d, "instances.ttl"), "w") as f:
        f.write(text)
    return {
        "rows": 2 * n_patients + 2 * len(encounters) + 10 * n + 2 * min(n, 7),  # triples
        "instances": n,
        "expected_observations": ROWS_PER_INSTANCE * n,
        "patients": sorted(patients),
        "encounters": sorted(encounters),
    }


GENERATORS = {
    "pages_to_triples": gen_pages,
    "rdf_to_facts": gen_turtle,
    "ontology_to_metadata": gen_ontology,
}
