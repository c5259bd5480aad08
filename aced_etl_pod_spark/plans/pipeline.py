"""The medallion pipeline façade — the reference's full capability surface
(put / get / delete, R1–R19) re-expressed as one lazy Spark DAG per method.

Reference flow (etl-job/fhir_import_export.py:416-433 dispatch):

  put    (:451-470): zip → NDJSON → simplify → graph load → denormalize →
                     flat loads ×3 → discovery agg → raw store → snapshot
  get    (:317-357): refresh → filtered export → zip {project}_{ts}_SNAPSHOT.zip
  delete (:362-390): graph + flat ×3 + raw + discovery teardown by project

Spark re-expression (SURVEY §3.1): stages 3–8 are ONE DataFrame DAG per
resource type over one cached scan of the commit.

  put    one wave of concurrent Spark jobs — the six store writes and the
         ResearchStudy lookup, all in the caller's job group — then one
         barrier, then the one-row discovery record. Row counts are
         observed on the flat writes themselves (``df.observe``): nothing
         is re-queried after a write.
  get    one scan: the project's raw rows in one write partitioned by
         resource type, whose part files become the {Type}.ndjson files.
  delete a partition drop per store — O(metadata), which is exactly why
         ``project_id`` is the physical partition key on every table
         (SURVEY §1.3).

The visibility barrier (:331-332) disappears because batch writes are
atomic-on-commit.

Stores (all parquet, partitioned by project_id):
  graph/vertices, graph/edges   — D2 envelopes: node payloads + exploded relations
  flat/patient|observation|file — D3 denormalized per-entity tables
  raw/resources                 — D4 raw store (original JSON + parsed struct)
  discovery/studies             — D5 per-study aggregate
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from aced_etl_pod_spark.plans.authz import can_create, can_read
from aced_etl_pod_spark.plans.storage import drop_partition, upsert_partitions
from aced_etl_pod_spark.session import tune
from aced_etl_pod_spark.sources.archives import unzip_to_dir, zip_dir

# Graph envelope schema (FIXTURES.md §B; inline example at
# fhir_import_export.py:280-285). One unified object struct; per-type fields
# are nullable. Explicit schema — never inferred (SURVEY §1.2).
OBJECT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("resourceType", T.StringType()),
        T.StructField("project_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("identifier", T.ArrayType(T.StringType())),
        T.StructField("identifier_coding", T.ArrayType(T.StringType())),
        T.StructField("subject_id", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("effective_ts", T.TimestampType()),
    ]
)

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField(
            "relations",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("dst_id", T.StringType()),
                        T.StructField("dst_name", T.StringType()),
                        T.StructField("label", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("object", OBJECT_SCHEMA),
    ]
)

# The schema of each store the pipeline reads back, as Spark reads a
# partitioned table: the written columns, then ``project_id``. A read
# passes it, so no job re-infers it from the footers; a test pins each
# one against what the writes produce.
STORE_SCHEMAS = {
    "raw/resources": "id string, resource_type string, resource_json string, project_id string",
    "flat/patient": (
        "id string, resourceType string, status string, description string, "
        "identifier array<string>, identifier_coding array<string>, "
        "subject_id string, value double, effective_ts timestamp, "
        "observation_count bigint, observation_avg double, file_count bigint, "
        "latest_file_id string, project_id string"
    ),
    "discovery/studies": (
        "patient_count bigint, description string, "
        "identifier_coding array<string>, project_id string"
    ),
}

RESOURCE_TYPES = ("ResearchStudy", "Patient", "Observation", "DocumentReference")
FLAT_INDICES = {"Patient": "patient", "Observation": "observation", "DocumentReference": "file"}


class EtlPodPipeline:
    """put/get/delete over a partitioned parquet warehouse."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = tune(spark)
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # ---- store paths -----------------------------------------------------
    def path(self, store: str) -> str:
        return os.path.join(self.warehouse, store)

    def _resident(self, store: str) -> bool:
        """Whether the store holds a partition: False when never written
        (the empty-input branch, R9 :235-238) or every project dropped."""
        p = self.path(store)
        return os.path.isdir(p) and any(
            name.startswith("project_id=") for name in os.listdir(p)
        )

    def _read(self, store: str) -> DataFrame | None:
        """The store's table, read with its pinned schema, or None when it
        holds no partition. Any error reading a present store propagates."""
        if not self._resident(store):
            return None
        return self.spark.read.schema(STORE_SCHEMAS[store]).parquet(self.path(store))

    # ---- put (import) ----------------------------------------------------
    def put(self, project_id: str, source: str, user: dict | None = None) -> dict:
        """Import one commit: NDJSON dir (or zip) → all stores.

        Mirrors ``_put`` (fhir_import_export.py:451-470); per-commit
        idempotence comes from dynamic partition overwrite on project_id.
        """
        if user is not None and not can_create(user, project_id):
            raise PermissionError(f"user cannot create in {project_id}")
        if source.endswith(".zip"):
            source = unzip_to_dir(source, f"put_{project_id}")

        envelopes = (
            self.spark.read.schema(ENVELOPE_SCHEMA)
            # the directory itself, not a glob path: a glob sends Spark's
            # _spark_metadata lookup to a path that cannot exist
            .option("pathGlobFilter", "*.ndjson")
            .json(source)
            .withColumn("project_id", F.lit(project_id))
            .cache()  # reused by graph, flat, discovery, raw — one scan
        )

        # Graph load (R7): vertices + exploded edges → partitioned tables.
        vertices = envelopes.select(
            "id", "name", F.to_json("object").alias("object_json"), "project_id"
        )
        edges = envelopes.select(
            F.col("id").alias("src_id"),
            F.explode_outer("relations").alias("rel"),
            "project_id",
        ).select(
            "src_id",
            F.col("rel.dst_id").alias("dst_id"),
            F.col("rel.dst_name").alias("dst_name"),
            F.col("rel.label").alias("label"),
            "project_id",
        ).filter(F.col("dst_id").isNotNull())
        writes = {"graph/vertices": vertices, "graph/edges": edges}

        # Simplify (R6): envelope → flat record per resource type. The
        # object struct carries its own project_id; keep the outer
        # (job-asserted) one and flatten the rest.
        obj_fields = [f.name for f in OBJECT_SCHEMA.fields if f.name != "project_id"]
        flat = envelopes.select(
            "project_id", *[F.col(f"object.{f}").alias(f) for f in obj_fields]
        ).cache()

        # Denormalize patient (R8): roll every related resource type up onto
        # its patient, mirroring the reference's general related-resource
        # denormalization (``denormalize_patient`` fhir_import_export.py:229;
        # README.md:24 DocumentReference→{Patient|Specimen|Observation}).
        patients = flat.filter(F.col("resourceType") == "Patient")
        obs = flat.filter(F.col("resourceType") == "Observation")
        obs_stats = obs.groupBy(F.col("subject_id").alias("obs_patient_id")).agg(
            F.count("*").alias("observation_count"),
            F.round(F.avg("value"), 4).alias("observation_avg"),
        )
        docs = flat.filter(F.col("resourceType") == "DocumentReference")
        doc_stats = docs.groupBy(F.col("subject_id").alias("doc_patient_id")).agg(
            F.count("*").alias("file_count"),
            F.max("id").alias("latest_file_id"),
        )
        patient_denorm = (
            patients.join(obs_stats, patients.id == obs_stats.obs_patient_id, "left")
            .drop("obs_patient_id")
            .join(doc_stats, patients.id == doc_stats.doc_patient_id, "left")
            .drop("doc_patient_id")
            .na.fill({"observation_count": 0, "file_count": 0})
        )

        # Flat loads ×3 (R9) — a type with no input still writes its schema
        # (the reference's /dev/null load, :235-238). Each write counts its
        # own rows, so no recount job follows it; the observations are
        # unnamed, so two puts in one session never share a name.
        observed: dict[str, Observation] = {}
        for rtype, index in FLAT_INDICES.items():
            df = patient_denorm if rtype == "Patient" else flat.filter(
                F.col("resourceType") == rtype
            )
            observed[index] = Observation()
            writes[f"flat/{index}"] = df.observe(
                observed[index], F.count(F.lit(1)).alias("rows")
            )

        # Raw store (R13): original resources, JSON + parsed struct.
        writes["raw/resources"] = envelopes.select(
            F.col("object.id").alias("id"),
            F.col("object.resourceType").alias("resource_type"),
            F.to_json("object").alias("resource_json"),
            "project_id",
        )

        # orderBy(id) before limit(1): deterministic pick when a project
        # carries more than one ResearchStudy row (the reference reads the
        # first NDJSON line; file order is its implicit total order).
        first_study = flat.filter(F.col("resourceType") == "ResearchStudy").orderBy("id").limit(1)

        # One wave: the six writes and the study lookup are independent
        # Spark jobs, submitted together so the default FIFO scheduler fills
        # one job's idle cores with the next and overlaps their driver-side
        # planning and commits. Every job runs in the caller's job group and
        # tags. Each target is wrapped on its own: one wrapper shares one
        # copy of the caller's local properties, in which concurrent queries
        # would overwrite each other's SQL execution id.
        tasks = [
            (upsert_partitions, self.spark, df, self.path(store), "project_id")
            for store, df in writes.items()
        ]
        tasks.append((first_study.collect,))
        try:
            with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
                futures = [
                    pool.submit(inheritable_thread_target(self.spark)(fn), *args)
                    for fn, *args in tasks
                ]
                results = [f.result() for f in futures]  # re-raises the first failure
        finally:
            # a failed put must not leave them cached for the session's life
            envelopes.unpersist()
            flat.unpersist()
        # Only after the barrier: a failed write's observation never
        # completes, and ``.get`` would block forever.
        counts = {index: o.get["rows"] for index, o in observed.items()}
        study = results[-1]

        # Discovery aggregate (R10+R12): after the barrier, from the
        # observed patient count — no re-query-after-write.
        discovery = self.spark.createDataFrame(
            [
                {
                    "project_id": project_id,
                    "patient_count": counts["patient"],
                    "description": study[0]["description"] if study else None,
                    "identifier_coding": (
                        list(study[0]["identifier_coding"] or []) if study else []
                    ),
                }
            ],
            STORE_SCHEMAS["discovery/studies"],
        )
        upsert_partitions(self.spark, discovery, self.path("discovery/studies"), "project_id")
        return {"project_id": project_id, **counts}

    # ---- get (export) ----------------------------------------------------
    def get(
        self, project_id: str, out_dir: str, user: dict | None = None, ts: str = "00000000-000000"
    ) -> str:
        """Filtered export (R15) + snapshot zip (R16:
        ``{project_id}_{ts}_SNAPSHOT.zip``, fhir_import_export.py:341-342).
        ``ts`` is injectable for determinism (%Y%m%d-%H%M%S in production).
        """
        if user is not None and not can_read(user, project_id):
            raise PermissionError(f"user cannot read {project_id}")
        if not self._resident("raw/resources"):
            raise FileNotFoundError("raw store is empty")
        export_dir = os.path.join(out_dir, f"{project_id}_export")
        shutil.rmtree(export_dir, ignore_errors=True)
        os.makedirs(export_dir)
        # One scan, one job: the project's rows split by type on write.
        # Only the project's own partition is listed and read; basePath
        # keeps project_id a column of the pinned schema.
        parts = os.path.join(export_dir, "_parts")
        store = self.path("raw/resources")
        part = os.path.join(store, f"project_id={project_id}")
        if os.path.isdir(part):
            (
                self.spark.read.schema(STORE_SCHEMAS["raw/resources"])
                .option("basePath", store)
                .parquet(part)
                .select("resource_type", "resource_json")
                .write.partitionBy("resource_type")
                .text(parts)
            )
        # Concatenate each type's part files into {Type}.ndjson; a type the
        # project has no rows of gets an empty file.
        for rtype in RESOURCE_TYPES:
            d = os.path.join(parts, f"resource_type={rtype}")
            names = sorted(os.listdir(d)) if os.path.isdir(d) else []
            with open(os.path.join(export_dir, f"{rtype}.ndjson"), "wb") as out:
                for name in names:
                    if name.startswith("part-"):
                        with open(os.path.join(d, name), "rb") as src:
                            shutil.copyfileobj(src, out)
        shutil.rmtree(parts, ignore_errors=True)
        zip_path = os.path.join(out_dir, f"{project_id}_{ts}_SNAPSHOT.zip")
        return zip_dir(export_dir, zip_path)

    # ---- delete (teardown) ----------------------------------------------
    def delete(self, project_id: str, user: dict | None = None) -> dict:
        """Project-wide delete (R17, fhir_import_export.py:372-385): one
        partition drop per store — O(metadata). Create right gates delete,
        as in the reference (:369-370)."""
        if user is not None and not can_create(user, project_id):
            raise PermissionError(f"user cannot delete {project_id}")
        dropped = {}
        for store in (
            "graph/vertices",
            "graph/edges",
            "flat/patient",
            "flat/observation",
            "flat/file",
            "discovery/studies",
            "raw/resources",
        ):
            dropped[store] = drop_partition(self.path(store), "project_id", project_id)
        return dropped

    # ---- queries over the warehouse -------------------------------------
    def patient_count(self, project_id: str) -> int:
        """The reference's own query (R10, :264-274)."""
        flat = self._read("flat/patient")
        if flat is None:
            return 0
        return flat.filter(F.col("project_id") == project_id).count()

    def discovery(self) -> DataFrame | None:
        return self._read("discovery/studies")
