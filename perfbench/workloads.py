"""The benchmark's workloads: one untraced pass, one traced pass and one
output check each.

contacts_batch  the CLI's four stages (cli.STAGES) over generated
                LinkedIn / Gmail / vCard sources, writing all nine CSV
                artifacts plus the parquet interchange.
contacts_stream the same generator's records staged as parquet files
                and read as a stream, one file per trigger, through
                normalize → prepare → incremental ER.
"""

from __future__ import annotations

import argparse
import csv
import glob
import os
import shutil
import statistics
import sys
import time
import uuid
from contextlib import redirect_stdout
from functools import reduce

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from contacts_etl_phase21_spark import cli
from contacts_etl_phase21_spark.io import widen
from contacts_etl_phase21_spark.operators.entity_resolution import (
    accepted_edges_fast, assert_unique_rids, build_lineage, candidate_pairs,
    connected_components, merge_clusters, prepare_for_matching,
)
from contacts_etl_phase21_spark.operators.normalize import normalize_records
from contacts_etl_phase21_spark.pipeline import (
    assert_unique_contact_ids, confidence_report,
    confidence_summary, notes_blob, referral_targets, tag_contacts,
    validation_report, validation_summary,
)
from contacts_etl_phase21_spark.pipeline.consolidate import flatten_contacts
from contacts_etl_phase21_spark.pipeline.sinks import (
    render_legacy_contacts, render_tagged, write_csv, write_parquet,
)
from contacts_etl_phase21_spark.schemas import CONTACT_SCHEMA
from contacts_etl_phase21_spark.sources.gmail import (
    load_gmail, parse_gmail_row,
)
from contacts_etl_phase21_spark.sources.linkedin import load_linkedin
from contacts_etl_phase21_spark.sources.rowparse import (
    blank_contact, email_entry,
)
from contacts_etl_phase21_spark.sources.vcard import (
    load_vcards, parse_vcard_block,
)
from contacts_etl_phase21_spark.streaming.er_ingest import (
    incremental_er_assignments, stream_records_from_dir,
)

from perfbench import contacts_gen
from perfbench.trace import Tracer

CSV_ARTIFACTS = (
    "consolidated_contacts.csv", "consolidated_lineage.csv",
    "flattened_contacts.csv", "validation_report.csv",
    "contact_quality_scored.csv", "confidence_report.csv",
    "confidence_summary.csv", "tagged_contacts.csv", "referral_targets.csv")

# validation columns cli.run_validate joins onto the contacts
QUALITY_SCORED_COLS = (
    "email_valid_count", "email_total", "phone_valid_count", "phone_total",
    "addr_valid_count", "addr_total", "quality_score", "department_missing",
    "home_email_present", "work_email_present", "home_phone_present",
    "work_phone_present", "home_address_present", "work_address_present")

# Layers the contacts_batch traced pass times, in pipeline order.
BATCH_LAYERS = (
    "sources", "normalize", "er.prepare", "er.blocking", "er.pair_scoring",
    "er.components", "er.survivorship", "er.lineage", "pipeline.flatten",
    "pipeline.validate", "pipeline.confidence", "pipeline.tag",
    "pipeline.sinks")


class CheckFailed(Exception):
    """An output differs from the planted truth."""


def _read_csv_dir(path: str) -> list[dict]:
    rows: list[dict] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
        with open(part, encoding="utf-8", newline="") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


class ContactsBatch:
    """Sources → consolidate → validate → confidence → tag."""

    name = "contacts_batch"
    persons = 800

    def __init__(self, work: str, seed: int):
        self.src = os.path.join(work, "sources")
        self.out = os.path.join(work, "out")
        self.truth = contacts_gen.generate(seed, self.persons, self.src)
        self.rows = self.truth.rows
        self.config = cli.load_config(None)

    def _args(self) -> argparse.Namespace:
        return argparse.Namespace(
            linkedin_csv=os.path.join(self.src, "linkedin.csv"),
            gmail_csv=os.path.join(self.src, "gmail.csv"),
            mac_vcf=os.path.join(self.src, "mac.vcf"), out_dir=self.out)

    def run_pass(self, spark: SparkSession) -> dict:
        shutil.rmtree(self.out, ignore_errors=True)
        args = self._args()
        # run_validate prints its summary; stdout carries only results
        with redirect_stdout(sys.stderr):
            for fn in cli.STAGES.values():
                fn(spark, args, self.config)
        return {}

    def traced_pass(self, spark: SparkSession, tr: Tracer) -> dict:
        """cli.STAGES decomposed into the public functions of each layer,
        each layer's output persisted and counted at its boundary."""
        shutil.rmtree(self.out, ignore_errors=True)
        a, cfg = self._args(), self.config

        def pq_path(name):
            return os.path.join(self.out, "parquet", name)

        def csv_path(name):
            return os.path.join(self.out, name)

        with tr.layer("sources"):
            parts = [load_linkedin(spark, a.linkedin_csv),
                     load_gmail(spark, a.gmail_csv),
                     load_vcards(spark, a.mac_vcf)]
            raw = reduce(lambda x, y: x.unionByName(
                y, allowMissingColumns=True), parts)
            write_parquet(raw, pq_path("raw_records"))
            raw, tr.counts["sources.rows"] = tr.boundary(
                spark.read.parquet(pq_path("raw_records")))
        with tr.layer("normalize"):
            normalized, _ = tr.boundary(
                normalize_records(widen(raw), cfg.normalization))
            bad = normalized.agg(
                F.sum(F.size("invalid_emails")),
                F.sum(F.size("non_standard_phones"))).collect()[0]
            tr.counts["normalize.invalid_emails"] = bad[0] or 0
            tr.counts["normalize.invalid_phones"] = bad[1] or 0
        with tr.layer("er.prepare"):
            prepared, _ = tr.boundary(prepare_for_matching(normalized))
            tr.counts["er.largest_block"] = prepared.groupBy(
                "block_key").count().agg(F.max("count")).collect()[0][0]
        with tr.layer("er.blocking"):
            pairs, n_pairs = tr.boundary(candidate_pairs(prepared))
            tr.counts["er.candidate_pairs"] = n_pairs
        with tr.layer("er.pair_scoring"):
            edges, n_edges = tr.boundary(
                accepted_edges_fast(pairs, cfg.dedupe))
            tr.counts["er.accepted_edges"] = n_edges
            tr.counts["er.accept_ratio"] = n_edges / max(n_pairs, 1)
        with tr.layer("er.components"):
            cc = connected_components(
                prepared.select(F.col("rid").alias("id")), edges)
            clustered, _ = tr.boundary(
                prepared.join(cc, prepared["rid"] == cc["id"], "left")
                .withColumn("cluster_id",
                            F.coalesce(F.col("component"), F.col("rid")))
                .drop("id", "component"))
            assert_unique_rids(clustered)
            sizes = clustered.groupBy("cluster_id").count().agg(
                F.count("*"), F.max("count")).collect()[0]
            tr.counts["er.clusters"], tr.counts["er.largest_cluster"] = sizes
        with tr.layer("er.survivorship"):
            contacts, _ = tr.boundary(merge_clusters(clustered, cfg.dedupe))
            assert_unique_contact_ids(contacts)
        with tr.layer("er.lineage"):
            lineage, _ = tr.boundary(build_lineage(clustered, contacts, raw))
        with tr.layer("pipeline.flatten"):
            flattened, _ = tr.boundary(flatten_contacts(contacts))
        with tr.layer("pipeline.sinks"):
            write_parquet(contacts, pq_path("contacts"))
            write_parquet(lineage, pq_path("lineage"))
            lineage = spark.read.parquet(pq_path("lineage"))
            write_parquet(flattened, pq_path("flattened"))
            flattened = spark.read.parquet(pq_path("flattened"))
            write_csv(render_legacy_contacts(contacts),
                      csv_path("consolidated_contacts.csv"))
            write_csv(lineage, csv_path("consolidated_lineage.csv"))
            write_csv(flattened, csv_path("flattened_contacts.csv"))
            contacts = spark.read.parquet(pq_path("contacts"))
        with tr.layer("pipeline.validate"):
            report, _ = tr.boundary(
                validation_report(contacts, flattened, cfg.quality))
            validation_summary(report).collect()
        with tr.layer("pipeline.sinks"):
            write_parquet(report, pq_path("validation"))
            report = spark.read.parquet(pq_path("validation"))
            write_csv(report, csv_path("validation_report.csv"))
            write_csv(render_legacy_contacts(contacts).join(
                report.select("contact_id", *QUALITY_SCORED_COLS),
                "contact_id", "left"), csv_path("contact_quality_scored.csv"))
        with tr.layer("pipeline.confidence"):
            scored, _ = tr.boundary(
                confidence_report(contacts, report, flattened))
        with tr.layer("pipeline.sinks"):
            write_parquet(scored, pq_path("confidence"))
            write_csv(render_legacy_contacts(scored).join(
                scored.select("contact_id", "confidence_score",
                              "confidence_bucket"), "contact_id"),
                csv_path("confidence_report.csv"))
            write_csv(confidence_summary(scored),
                      csv_path("confidence_summary.csv"))
            confidence = spark.read.parquet(pq_path("confidence"))
            raw = spark.read.parquet(pq_path("raw_records"))
        with tr.layer("pipeline.tag"):
            notes = notes_blob(lineage, raw)
            tagged, _ = tr.boundary(
                tag_contacts(contacts, confidence, notes, cfg.tagging))
        with tr.layer("pipeline.sinks"):
            write_parquet(tagged, pq_path("tagged"))
            rendered = render_tagged(tagged)
            write_csv(rendered, csv_path("tagged_contacts.csv"))
            write_csv(referral_targets(rendered),
                      csv_path("referral_targets.csv"))
        spark.catalog.clearCache()
        return {}

    def check(self, _result: dict) -> None:
        """Contacts and lineage rows equal the planted truth, and every
        contact's lineage rows belong to exactly one planted person."""
        for name in CSV_ARTIFACTS:
            if not glob.glob(os.path.join(self.out, name, "part-*.csv")):
                raise CheckFailed(f"missing artifact {name}")
        contacts = _read_csv_dir(
            os.path.join(self.out, "consolidated_contacts.csv"))
        lineage = _read_csv_dir(
            os.path.join(self.out, "consolidated_lineage.csv"))
        if len(contacts) != self.truth.persons:
            raise CheckFailed(f"{len(contacts)} contacts, "
                              f"planted {self.truth.persons}")
        if len(lineage) != self.truth.rows:
            raise CheckFailed(f"{len(lineage)} lineage rows, "
                              f"planted {self.truth.rows}")
        person_of: dict[str, set[int]] = {}
        for row in lineage:
            emails = [e for e in row["source_emails"].split("|") if e]
            person_of.setdefault(row["contact_id"], set()).update(
                self.truth.email_to_person[e] for e in emails)
        merged = [c for c, p in person_of.items() if len(p) != 1]
        if merged or len(person_of) != self.truth.persons:
            raise CheckFailed(f"{len(person_of)} lineage contacts, "
                              f"{len(merged)} span several persons")


def contact_records(src: str) -> list[dict]:
    """The generated source files as CONTACT_SCHEMA dicts, parsed by the
    engine's pure-Python Gmail and vCard row parsers; LinkedIn rows get
    load_linkedin's projection."""
    out: list[dict] = []
    with open(os.path.join(src, "linkedin.csv"), encoding="utf-8",
              newline="") as fh:
        for i, row in enumerate(csv.DictReader(fh)):
            rec = blank_contact("linkedin", str(i))
            rec.update(
                source_timestamp="2024-01-03T00:00:00",
                full_name=f"{row['First Name']} {row['Last Name']}".strip(),
                company=row["Company"], title=row["Position"],
                linkedin_url=row["URL"],
                emails=[email_entry(row["Email Address"], "home")])
            out.append(rec)
    with open(os.path.join(src, "gmail.csv"), encoding="utf-8",
              newline="") as fh:
        reader = csv.DictReader(fh)
        for i, row in enumerate(reader):
            out.append(parse_gmail_row(pd.Series(row), str(i),
                                       reader.fieldnames))
    with open(os.path.join(src, "mac.vcf"), encoding="utf-8") as fh:
        blocks = [b for b in fh.read().split("END:VCARD")
                  if "BEGIN:VCARD" in b]
    out.extend(parse_vcard_block(b, str(i)) for i, b in enumerate(blocks))
    return out


class ContactsStream:
    """Staged parquet files → stream → normalize → prepare → ER state."""

    name = "contacts_stream"
    persons = 500
    files = 3

    def __init__(self, work: str, seed: int):
        self.work = work
        src = os.path.join(work, "sources")
        self.staged = os.path.join(work, "staged")
        self.truth = contacts_gen.generate(seed, self.persons, src)
        self.rows = self.truth.rows
        # round-robin files: a person's rows arrive in different batches
        records = contact_records(src)
        schema = to_arrow_schema(CONTACT_SCHEMA)
        shutil.rmtree(self.staged, ignore_errors=True)
        os.makedirs(self.staged)
        for k in range(self.files):
            pq.write_table(
                pa.Table.from_pylist(records[k::self.files], schema=schema),
                os.path.join(self.staged, f"part-{k:03d}.parquet"))

    def _query(self, spark: SparkSession):
        name = f"er_{uuid.uuid4().hex[:8]}"
        ckpt = os.path.join(self.work, "ckpt", name)
        stream = stream_records_from_dir(spark, CONTACT_SCHEMA, self.staged)
        out = incremental_er_assignments(
            prepare_for_matching(normalize_records(stream)))
        return name, (out.writeStream.format("memory").queryName(name)
                      .outputMode("update")
                      .option("checkpointLocation", ckpt)
                      .trigger(availableNow=True).start())

    def run_pass(self, spark: SparkSession) -> dict:
        name, q = self._query(spark)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        rows = spark.table(name).select("rid", "cluster_id").collect()
        spark.sql(f"DROP VIEW IF EXISTS {name}")
        state = (progress[-1].get("stateOperators") or [{}])[0]
        return {"run_id": str(q.runId),
                "batch_s": [p["durationMs"]["triggerExecution"] / 1e3
                            for p in progress],
                "state_rows": state.get("numRowsTotal", 0),
                "state_mem_mb": state.get("memoryUsedBytes", 0) / 1e6,
                "assignments": rows}

    def traced_pass(self, spark: SparkSession, tr: Tracer) -> dict:
        """The stream runs inside one query; its layers share micro-batch
        jobs, so it is traced as one `streaming` span."""
        with tr.layer("streaming"):
            return self.run_pass(spark)

    def check(self, result: dict) -> None:
        """One assignment per source row; distinct clusters equal the
        planted persons."""
        rows = result["assignments"]
        rids = {r["rid"] for r in rows}
        clusters = {r["cluster_id"] for r in rows}
        if len(rids) != self.truth.rows:
            raise CheckFailed(f"{len(rids)} records assigned, "
                              f"planted {self.truth.rows}")
        if len(clusters) != self.truth.persons:
            raise CheckFailed(f"{len(clusters)} clusters, "
                              f"planted {self.truth.persons}")


WORKLOADS = {w.name: w for w in (ContactsBatch, ContactsStream)}


def batch_quantiles(batch_s: list[float]) -> tuple[float, float]:
    """(p50, p90) of micro-batch times."""
    if len(batch_s) < 2:
        return batch_s[0], batch_s[0]
    deciles = statistics.quantiles(batch_s, n=10, method="inclusive")
    return statistics.median(batch_s), deciles[8]


def timed(fn, *args) -> tuple[float, dict]:
    t0 = time.perf_counter()
    res = fn(*args)
    return time.perf_counter() - t0, res
