"""The KG build workloads: set-up, the timed build and SPARQL passes, the
traced layer-by-layer build, and the correctness checks.

Everything is driven through the program's public functions. The traced
build repeats ``run_pipeline``'s stage order and forces each stage's output
the way ``run_pipeline`` does (a parquet checkpoint, or the table / N-Triples
sink); it leaves out what ``run_pipeline`` does between stages (lineage
writes, the resume probe, the final count and the cache sweep), whose jobs
are reported as ``pipeline.overhead_jobs``.
"""

from __future__ import annotations

import json
import math
import os
import random
import sys
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from codeontologypython_spark.operators.canonicalize import canonicalize_stage
from codeontologypython_spark.operators.closure import select_import_closure
from codeontologypython_spark.operators.extract import (
    extract_stage,
    split_extraction,
)
from codeontologypython_spark.operators.linking import link_stage
from codeontologypython_spark.operators.pyfile import extract_file
from codeontologypython_spark.plans.pipeline import run_pipeline
from codeontologypython_spark.plans.sparql import sparql_to_df
from codeontologypython_spark.schemas import SOURCE_FILES
from codeontologypython_spark.sources.ntriples import write_ntriples
from codeontologypython_spark.sources.tables import write_triple_table
from perfbench import corpora
from perfbench.entry import HEADLINE
from perfbench.measure import (
    MemorySampler,
    Tracer,
    count_lines,
    dir_bytes,
    read_parquet,
    row_digest,
)

# the README-shaped SPARQL queries of __spark_entry__'s kg_sparql_* entries;
# the VALUES candidates are per workload: its libraries plus two misses
_PREFIX = "prefix woc: <http://rdf.webofcode.org/woc/>\n"
SPARQL = {
    "library_names": """
        SELECT DISTINCT ?n_lib WHERE {
            ?lib rdf:type woc:Library .
            ?lib woc:hasName ?n_lib .
        }""",
    "class_star": """
        SELECT ?pred (COUNT(*) AS ?n) WHERE {
            ?c rdf:type woc:Class .
            ?c ?pred ?o .
        } GROUP BY ?pred""",
    "class_star_deep": """
        SELECT ?pred1 ?pred2 (COUNT(*) AS ?n) WHERE {
            ?c rdf:type woc:Class .
            ?c ?pred1 ?mid .
            FILTER (!isLiteral(?mid))
            ?mid ?pred2 ?o2 .
        } GROUP BY ?pred1 ?pred2""",
    "superclass_names": """
        SELECT DISTINCT ?cn ?sn WHERE {
            ?c rdf:type woc:Class .
            ?c woc:hasSimpleName ?cn .
            ?c woc:extends/woc:hasSimpleName ?sn .
        }""",
    "ancestor_names": """
        SELECT DISTINCT ?cn ?an WHERE {
            ?c woc:hasSimpleName ?cn .
            ?c woc:extends+/woc:hasSimpleName ?an .
        }""",
    "values_libraries": """
        SELECT DISTINCT ?n WHERE {
            ?lib rdf:type woc:Library .
            ?lib woc:hasName ?n .
            VALUES ?n { %s }
        }""",
}
TRIPLE_COLS = ["subj", "pred", "obj", "obj_is_literal", "repo"]

# pyspark_kg's expected output on the seed tree; a change that alters the
# emitted triples must change these on purpose
PYSPARK_EXPECTED = {
    "n_triples": 161920,
    "digest": "161920:93449627830298780847443",
    "rows": {"library_names": 2, "class_star": 16, "class_star_deep": 128,
             "superclass_names": 99, "ancestor_names": 128,
             "values_libraries": 2},
}

PER_LAYER = (
    [("session.start_s", "s"), ("pyfile.files_per_s", "1/s")]
    + [(f"{layer}.{m}", u) for layer in ("closure", "extract", "linking",
                                         "canonicalize")
       for m, u in (("s", "s"), ("jobs", "count"))]
    + [("tables.write_s", "s"), ("tables.write_jobs", "count"),
       ("ntriples.write_s", "s"), ("pipeline.jobs", "count"),
       ("pipeline.overhead_jobs", "count"), ("pipeline.warm_build_s", "s"),
       ("trace.staged_build_s", "s")]
    + [(f"sparql.{q}_ms", "ms") for q in SPARQL]
    + [("sparql.jobs", "count")]
    + [(f"spark_entry.{q}_ms", "ms") for q in HEADLINE])
# output sizes of the staged build: printed as a note, not as metrics, since
# neither direction of change is better
SIZES = ("closure.rows_kept", "extract.rows", "linking.rows",
         "canonicalize.rows", "tables.bytes", "ntriples.bytes")


@dataclass
class Workload:
    name: str
    rows: list[tuple]
    roots: list[str]
    unreferenced: list[str]       # repos the import closure must drop
    libraries: list[str]          # libraries the graph must hold
    pruned_libraries: list[str]   # libraries of the unreferenced repos
    expected: dict = field(default_factory=dict)

    @property
    def values_candidates(self) -> list[str]:
        return sorted(self.libraries) + self.pruned_libraries + ["missing"]


def make_workload(name: str, seed: int) -> Workload:
    if name == "pyspark_kg":
        return Workload(name, corpora.pyspark_corpus(seed),
                        corpora.PYSPARK_ROOTS, corpora.PYSPARK_UNREFERENCED,
                        ["py4j", "pyspark"], ["jmespath"],
                        dict(PYSPARK_EXPECTED))
    if name == "synth_link":
        c = corpora.synthetic_corpus(seed)
        libs = {(n,) for n in c.libraries}
        # query -> (rows that must appear, rows that may appear)
        sets = {"library_names": (libs, libs),
                "values_libraries": (libs, libs),
                "superclass_names": (c.extends_required, c.extends),
                "ancestor_names": (c.ancestors_required, c.ancestors)}
        return Workload(name, c.rows, c.roots, c.unreferenced,
                        sorted(c.libraries), list(corpora.UNUSED_DEPS),
                        {"sets": sets})
    raise ValueError(f"unknown workload {name!r}")


def query_text(wl: Workload, q: str) -> str:
    text = SPARQL[q]
    if q == "values_libraries":
        text = text % " ".join(f'"{n}"' for n in wl.values_candidates)
    return _PREFIX + text


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


class KGRun:
    def __init__(self, spark, wl: Workload, workdir: str, seed: int,
                 seconds: float, memory: MemorySampler):
        self.spark = spark
        self.wl = wl
        self.workdir = workdir
        self.rng = random.Random(seed)  # query order
        self.seconds = seconds
        self.memory = memory
        self.problems: list[str] = []
        self.query_failures = 0
        self.query_runs = 0

    # -- set-up ------------------------------------------------------------

    def load_input(self) -> None:
        """Write the workload's source_files rows, in the seed's order, as
        the parquet table ``jobs/extract.py`` reads, and open it. Reading it
        is part of the timed build, as it is for a ``jobs/extract.py`` run."""
        path = self._dir("source_files")
        os.makedirs(path)
        columns = zip(*self.wl.rows)
        pq.write_table(pa.table({f.name: list(c) for f, c
                                 in zip(SOURCE_FILES.fields, columns)}),
                       os.path.join(path, "part-00000.parquet"))
        self.src = self.spark.read.parquet(path)

    # -- timed -------------------------------------------------------------

    def build(self, tag: str):
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, self.src, self._dir(tag),
                           root_repos=self.wl.roots, write_nt=True)
        seconds = time.perf_counter() - t0
        self.memory.sample()
        return res, seconds

    def query_passes(self, table, tracer: Tracer | None = None):
        """One untimed pass over the query set (it compiles the query plans),
        then timed passes until ``seconds`` have elapsed, at least one; the
        query order is seed-permuted per pass. Returns (timed pass seconds,
        {query: [ms per timed pass]}, {query: rows of the last pass})."""
        for q in SPARQL:
            try:
                self._collect(table, q)
            except Exception:  # the timed pass below records the failure
                pass
        passes, per_query, rows = [], {q: [] for q in SPARQL}, {}
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < self.seconds:
            order = list(SPARQL)
            self.rng.shuffle(order)
            p0 = time.perf_counter()
            for q in order:
                t0 = time.perf_counter()
                self.query_runs += 1
                try:
                    if tracer is None:
                        out = self._collect(table, q)
                    else:
                        out = tracer.run(f"sparql.{q}", lambda q=q:
                                         self._collect(table, q))
                except Exception as e:  # a failed query is a counted failure
                    self.query_failures += 1
                    self.problems.append(f"query {q} raised {e!r:.300}")
                    continue
                per_query[q].append((time.perf_counter() - t0) * 1000.0)
                rows[q] = out
            passes.append(time.perf_counter() - p0)
            self.memory.sample()
        return passes, per_query, rows

    def _collect(self, table, q):
        return [tuple(r) for r in
                sparql_to_df(table, query_text(self.wl, q)).collect()]

    # -- traced ------------------------------------------------------------

    def staged_build(self, tracer: Tracer) -> dict:
        """run_pipeline's stages one at a time, each in its own span."""
        spark, wd = self.spark, self._dir("staged")
        out = {}

        def closure():
            return select_import_closure(self.src, self.wl.roots)

        kept = tracer.run("closure", closure)
        out["closure.rows_kept"] = kept.count()

        s1 = os.path.join(wd, "stage1_extract")

        def extract():
            extract_stage(kept).write.mode("overwrite").parquet(s1)
            return spark.read.parquet(s1)

        extracted = tracer.run("extract", extract)
        out["extract.rows"] = extracted.count()
        entities, triples, mentions, _errors = split_extraction(extracted)
        entities, triples, mentions = (entities.persist(), triples.persist(),
                                       mentions.persist())

        s2, s2e = os.path.join(wd, "stage2_resolved"), os.path.join(
            wd, "stage2_entities")

        def link():
            resolved, extra, _base = link_stage(entities, triples, mentions)
            resolved.write.mode("overwrite").parquet(s2)
            extra.write.mode("overwrite").parquet(s2e)
            return spark.read.parquet(s2), spark.read.parquet(s2e)

        resolved, extra = tracer.run("linking", link)
        out["linking.rows"] = resolved.count()

        s3 = os.path.join(wd, "stage3_triples")

        def canonicalize():
            base = triples.filter(~F.col("subj").contains("\x02"))
            canonicalize_stage(entities.unionByName(extra),
                               base.unionByName(resolved)) \
                .write.mode("overwrite").parquet(s3)
            return spark.read.parquet(s3)

        final = tracer.run("canonicalize", canonicalize)
        out["canonicalize.rows"] = final.count()

        table_path = os.path.join(wd, "triple_table")
        nt_path = os.path.join(wd, "triples_nt")
        tracer.run("tables.write", lambda: write_triple_table(final,
                                                              table_path))
        tracer.run("ntriples.write", lambda: write_ntriples(final, nt_path))
        out["tables.bytes"] = dir_bytes(table_path)
        out["ntriples.bytes"] = dir_bytes(nt_path)
        for df in (entities, triples, mentions):
            df.unpersist()
        out["table_path"] = table_path
        return out

    def pyfile_rate(self, kept_paths: set[tuple[str, str]]) -> float:
        """Single-process extract_file over the files the closure keeps."""
        files = [r for r in self.wl.rows if (r[0], r[1]) in kept_paths]
        t0 = time.perf_counter()
        for repo, path, commit, _lang, content in files:
            extract_file(repo, path, commit, content)
        return len(files) / (time.perf_counter() - t0)

    # -- checks (never inside a timed window) ------------------------------

    def check_build(self, res) -> int:
        """Output checks of one build; returns its extraction error count."""
        wl, exp = self.wl, self.wl.expected
        stage1 = os.path.join(os.path.dirname(res.triples_path),
                              "stage1_extract")
        errors = read_parquet(stage1, ["rec"], pc.field("rec") == "err") \
            .num_rows
        if errors:
            self.problems.append(f"{errors} files failed extraction")
        n_nt = count_lines(res.nt_path)
        if n_nt != res.n_triples:
            self.problems.append(
                f"N-Triples lines {n_nt} != triples {res.n_triples}")
        if exp.get("n_triples") is not None and res.n_triples != exp[
                "n_triples"]:
            self.problems.append(
                f"triples {res.n_triples} != expected {exp['n_triples']}")
        leaked = read_parquet(res.triples_path, ["repo"],
                              pc.field("repo").isin(wl.unreferenced)).num_rows
        if leaked:
            self.problems.append(
                f"{leaked} triples from unreferenced repos {wl.unreferenced}")
        digest = table_digest(res.triples_path)
        print(f"perfbench-note triples {res.n_triples} digest {digest}",
              file=sys.stderr)
        if exp.get("digest") is not None and digest != exp["digest"]:
            self.problems.append(
                f"digest {digest} != expected {exp['digest']}")
        return errors

    def check_queries(self, rows: dict) -> None:
        exp = self.wl.expected
        print("perfbench-note rows " + json.dumps(
            {q: len(v) for q, v in rows.items()}, sort_keys=True),
            file=sys.stderr)
        for q in SPARQL:
            if q not in rows:
                continue
            got = rows[q]
            if not got:
                self.problems.append(f"query {q} returned no rows")
            if q in exp.get("rows", {}) and len(got) != exp["rows"][q]:
                self.problems.append(
                    f"query {q}: {len(got)} rows != expected {exp['rows'][q]}")
            if q in exp.get("sets", {}):
                must, may = exp["sets"][q]
                missing, extra = must - set(got), set(got) - may
                if missing or extra:
                    self.problems.append(
                        f"query {q}: {len(missing)} rows missing, "
                        f"{len(extra)} unexpected")
                elif may != must:
                    # optional rows: the resolution gap NOTES.md describes
                    print(f"perfbench-note {q}: {len(may - set(got))} of "
                          f"{len(may - must)} optional rows absent",
                          file=sys.stderr)

    def _dir(self, tag: str) -> str:
        return os.path.join(self.workdir, tag)


def table_digest(triples_path: str) -> str:
    table = read_parquet(triples_path, TRIPLE_COLS)
    return row_digest(zip(*(table.column(c).to_pylist()
                            for c in TRIPLE_COLS)))


def kept_files(res) -> set[tuple[str, str]]:
    """(repo, path) of the files the build extracted."""
    t = read_parquet(os.path.join(os.path.dirname(res.triples_path),
                                  "stage1_extract"), ["repo", "path"])
    return set(zip(t.column("repo").to_pylist(), t.column("path").to_pylist()))


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
