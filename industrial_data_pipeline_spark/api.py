"""Engine facade: the reference's full query + management-plane surface.

One class, ``Pipeline``, exposing every operation the reference's Flask
app offers (SURVEY.md §2.10–§2.11; /root/reference/database/web_app.py's
16 routes backed by /root/reference/database/database.py), re-expressed
over the ParquetStore. A reference user switches by pointing this at a
storage root instead of a PostgreSQL DSN.

Deliberate fixes over the reference, documented per SURVEY.md §2.12:
- update_mapping_cache returns BOTH element_count and attribute_count
  (the reference's handler reads a key that is never returned and 500s,
  §2.12.3).
- derived-ness is ``formula IS NOT NULL`` in the catalog instead of
  probing generated trigger functions (§2.9).
- exact-match lookups order by id before LIMIT 1 (deterministic; the
  reference inherits arbitrary PostgreSQL ordering).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, functions as F

from industrial_data_pipeline_spark.catalog.store import ParquetStore
from industrial_data_pipeline_spark.functions.formula import (
    dependency_order,
    validate,
)
from industrial_data_pipeline_spark.operators.closure import hierarchy_paths
from industrial_data_pipeline_spark.operators.derived import backfill_derived
from industrial_data_pipeline_spark.operators.export import (
    export_csv,
    export_parquet,
    pivot_wide,
    timeseries_long,
)
from industrial_data_pipeline_spark.operators.lookup import (
    leaf_elements_heuristic,
    leaf_elements_true,
    lookup_dispatch,
)
from industrial_data_pipeline_spark.operators.maintenance import (
    purge_orphans,
)
from industrial_data_pipeline_spark.sources.mapping import (
    build_mapping,
    write_mapping,
)
from industrial_data_pipeline_spark.sources.tree import load_tree_cache


class Pipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.store = ParquetStore(spark, root)

    # ------------------------------------------------------ read surface

    def list_databases(self) -> list[str]:
        """GET /api/databases (web_app.py:57)."""
        return self.store.list_databases()

    def leaf_elements(self, database: str,
                      true_leaves: bool = False) -> DataFrame:
        """GET /api/elements/<db> (web_app.py:70). Default keeps the
        reference's root-or-deepest-level heuristic; ``true_leaves``
        switches to correct childless semantics (§2.12.4)."""
        elem = self.store.element(database)
        fn = leaf_elements_true if true_leaves else leaf_elements_heuristic
        return fn(elem).orderBy("name")

    def all_elements(self, database: str) -> DataFrame:
        """GET /api/elements/all/<db> (web_app.py:225); ORDER BY level,
        element_id (database.py:805)."""
        return self.store.element(database).orderBy("level", "element_id")

    def element_attributes(self, database: str,
                           element_id: int) -> DataFrame:
        """GET /api/attributes/<db>/<element_id> (web_app.py:87-112)."""
        return (self.store.attribute(database)
                .where(F.col("element_id") == element_id)
                .orderBy("name"))

    def all_attributes(self, database: str,
                       element_id: int | None = None) -> DataFrame:
        """GET /api/attributes/all/<db>?element_id= (web_app.py:242);
        attr⋈elem decoration (J1; database.py:886-905)."""
        attr = self.store.attribute(database)
        if element_id is not None:
            attr = attr.where(F.col("element_id") == element_id)
        elem = self.store.element(database).select(
            "element_id", F.col("name").alias("element_name"))
        return (attr.join(F.broadcast(elem), "element_id")
                .orderBy("element_name", "name"))

    def lookup(self, database: str, text: str,
               kind: str = "element") -> DataFrame:
        """POST /api/lookup (web_app.py:423-488): '%' → LIKE else exact."""
        if kind not in ("element", "attribute"):
            raise ValueError(
                f"kind must be 'element' or 'attribute', got {kind!r}")
        df = (self.store.element(database) if kind == "element"
              else self.store.attribute(database))
        return lookup_dispatch(df, text, f"{kind}_id")

    def timestamp_range(self, database: str,
                        attribute_id: int) -> tuple:
        """A1 (database.py:435-450)."""
        row = (self.store.archive_values(database)
               .where(F.col("attribute_id") == attribute_id)
               .agg(F.min("timestamp"), F.max("timestamp")).first())
        return (row[0], row[1]) if row else (None, None)

    def get_timeseries(self, database: str, attribute_ids: list[int],
                       start=None, end=None, wide: bool = True,
                       qualify_element: bool | None = None) -> DataFrame:
        """The export query (§3.1; database.py:357-432)."""
        attr = self.store.attribute(database)
        elem = self.store.element(database)
        long_df = timeseries_long(
            self.store.archive_values(database), attr, elem,
            attribute_ids, start, end)
        if not wide:
            return long_df
        # ONE dimension-sized driver round-trip yields both the
        # element-count decision and the pivot column list. LEFT join:
        # an attribute whose element_id is dangling (no element row)
        # must still get a pivot column — bare name, un-qualified —
        # rather than silently disappearing from the output schema.
        # (Its DATA rows still drop at timeseries_long's inner element
        # join — reference parity, database.py:381-408 — so the column
        # surfaces the referential break as all-NULL instead of hiding
        # the attribute; orphan purge is the maintenance fix.)
        sel = attr.where(F.col("attribute_id").isin(list(attribute_ids)))
        pairs = (sel.join(
            F.broadcast(elem.select(
                "element_id", F.col("name").alias("element_name"))),
            "element_id", "left")
            .select("element_id", "name", "element_name").collect())
        if qualify_element is None:
            # count only RESOLVED elements: a dangling element_id must
            # not flip a single-element export into qualified names
            qualify_element = len({r["element_id"] for r in pairs
                                   if r["element_name"] is not None}) > 1
        names = ([f"{r['element_name']}|{r['name']}"
                  if r["element_name"] is not None else r["name"]
                  for r in pairs]
                 if qualify_element else [r["name"] for r in pairs])
        cols = list(dict.fromkeys(names))
        return pivot_wide(long_df, cols, qualify_element=qualify_element)

    def export(self, database: str, attribute_ids: list[int], path: str,
               fmt: str = "csv", start=None, end=None) -> dict:
        """POST /api/download (web_app.py:115-186)."""
        df = self.get_timeseries(database, attribute_ids, start, end)
        # row count via an Observation on the write job itself — a
        # plain df.count() afterwards would re-run the whole
        # filter+join+pivot plan a second time
        from pyspark.sql import Observation
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if fmt == "csv":
            export_csv(df, path)
        elif fmt == "parquet":
            export_parquet(df, path)
        else:
            raise ValueError(f"unsupported format: {fmt}")
        return {"filename": path, "rows": obs.get["rows"],
                "columns": len(df.columns)}

    # ------------------------------------------------ management plane

    def create_database(self, database: str) -> None:
        """D1 (populate.py:69-160)."""
        self.store.create_database(database)

    def _next_id(self, df: DataFrame, col: str) -> int:
        row = df.agg(F.max(col)).first()
        return (row[0] or 0) + 1

    def insert_element(self, database: str, name: str,
                       parent_id: int | None = None,
                       level: int = 0) -> int:
        """D4 (database.py:465-491): id = max+1 (single-writer, like
        the reference's effectively single-user app)."""
        elem = self.store.element(database)
        new_id = self._next_id(elem, "element_id")
        row = self.spark.createDataFrame(
            [(level, new_id, name, parent_id)], elem.schema)
        self.store.overwrite_dim(database, "element", elem.unionByName(row))
        return new_id

    def insert_attribute(self, database: str, element_id: int, name: str,
                         kks: str | None = None,
                         formula: str | None = None,
                         backfill: bool = True) -> int:
        """D5 (database.py:494-536): insert; if derived, validate the
        formula against existing ids and backfill history (first-wins).
        Real-time maintenance = streaming/derived.py (T5)."""
        attr = self.store.attribute(database)
        if formula is not None:
            known = {r[0] for r in attr.select("attribute_id").collect()}
            validate(formula, known)
        new_id = self._next_id(attr, "attribute_id")
        row = self.spark.createDataFrame(
            [(element_id, new_id, name, kks, formula)], attr.schema)
        self.store.overwrite_dim(database, "attribute",
                                 attr.unionByName(row))
        if formula is not None and backfill:
            rows = backfill_derived(
                self.store.archive_values(database), new_id, formula)
            self.store.upsert_archive(database, rows, mode="first_wins")
        return new_id

    def update_attribute(self, database: str, attribute_id: int,
                         name: str | None = None, kks: str | None = None,
                         formula: str | None = None,
                         recompute_archive: bool = True) -> dict:
        """D6 (database.py:961-1072): derived-only guard; on formula
        change optionally delete + recompute the derived history."""
        attr = self.store.attribute(database)
        current = attr.where(F.col("attribute_id") == attribute_id).first()
        if current is None:
            raise ValueError(f"attribute {attribute_id} does not exist")
        if current["formula"] is None:
            # reference guard: only derived attributes are updatable
            # (database.py:991-1005)
            raise ValueError(
                f"attribute {attribute_id} is not a derived attribute")
        if formula is not None:
            catalog = attr.select("attribute_id", "formula").collect()
            validate(formula, {r[0] for r in catalog if r[0] != attribute_id})
            # an indirect cycle (B reads A, A updated to read B) has no
            # maintenance order; refuse it before any write
            dependency_order({r[0]: r[1] for r in catalog
                              if r[1] is not None} | {attribute_id: formula})
        updated = attr.select(
            "element_id", "attribute_id",
            F.when(F.col("attribute_id") == attribute_id,
                   F.lit(name if name is not None else current["name"]))
            .otherwise(F.col("name")).alias("name"),
            F.when(F.col("attribute_id") == attribute_id,
                   F.lit(kks if kks is not None else current["kks"]))
            .otherwise(F.col("kks")).alias("kks"),
            F.when(F.col("attribute_id") == attribute_id,
                   F.lit(formula if formula is not None
                         else current["formula"]))
            .otherwise(F.col("formula")).alias("formula"),
        )
        self.store.overwrite_dim(database, "attribute", updated)
        recomputed = 0
        if formula is not None and recompute_archive:
            arch = self.store.archive_values(database)
            kept = arch.where(F.col("attribute_id") != attribute_id)
            # materialize: `rows` reads the archive dir the rewrite is
            # about to swap out (bounded: one attribute's history)
            rows = backfill_derived(kept, attribute_id, formula) \
                .localCheckpoint(eager=True)
            self.store.rewrite_archive(database, kept.unionByName(rows))
            recomputed = rows.count()
        return {"attribute_id": attribute_id, "recomputed": recomputed}

    def delete_element(self, database: str, element_id: int) -> dict:
        """D7 (database.py:915-958): cascade element → attributes →
        archive; returns the reference's count dict. The deleted-row
        count rides an Observation on the rewrite scan itself — a
        separate count() would be a second full pass over the fact
        table per management delete (dim counts stay plain: dims are
        tiny by design)."""
        from pyspark.sql import Observation
        elem = self.store.element(database)
        attr = self.store.attribute(database)
        arch = self.store.archive_values(database)
        doomed_ids = [r["attribute_id"] for r in
                      attr.where(F.col("element_id") == element_id)
                      .select("attribute_id").collect()]
        n_elem = elem.where(F.col("element_id") == element_id).count()
        obs = Observation()
        is_doomed = (F.col("attribute_id").isin(doomed_ids)
                     if doomed_ids else F.lit(False))
        observed = arch.observe(
            obs, F.count(F.when(is_doomed, 1)).alias("n_doomed"))
        # NULL-safe keep predicate: an archive row with NULL
        # attribute_id makes is_doomed NULL, and `~NULL` is NULL —
        # which a where() DROPS. SQL DELETE (the reference,
        # database.py:915-958) never deletes on a NULL predicate, so
        # coalesce to False to retain such rows.
        self.store.rewrite_archive(
            database,
            observed.where(~F.coalesce(is_doomed, F.lit(False))))
        # dim rewrites share the archive's NULL-retention contract:
        # `col != id` is NULL (dropped) for a NULL-keyed dim row,
        # while SQL DELETE retains it — use null-safe inequality.
        self.store.overwrite_dim(
            database, "attribute",
            attr.where(~F.col("element_id").eqNullSafe(
                F.lit(element_id))))
        self.store.overwrite_dim(
            database, "element",
            elem.where(~F.col("element_id").eqNullSafe(
                F.lit(element_id))))
        return {"elements_deleted": n_elem,
                "attributes_deleted": len(doomed_ids),
                "archive_records_deleted": obs.get["n_doomed"]}

    def delete_attribute(self, database: str, attribute_id: int) -> dict:
        """D8 (database.py:1075-1111). Same single-scan Observation
        pattern as :meth:`delete_element`."""
        from pyspark.sql import Observation
        attr = self.store.attribute(database)
        arch = self.store.archive_values(database)
        n_attr = attr.where(F.col("attribute_id") == attribute_id).count()
        obs = Observation()
        observed = arch.observe(
            obs, F.count(F.when(F.col("attribute_id") == attribute_id,
                                1)).alias("n_doomed"))
        # null-safe inequality: keep NULL-attribute rows (same
        # three-valued-logic retention contract as delete_element).
        self.store.rewrite_archive(
            database,
            observed.where(
                ~F.col("attribute_id").eqNullSafe(F.lit(attribute_id))))
        self.store.overwrite_dim(
            database, "attribute",
            attr.where(~F.col("attribute_id").eqNullSafe(
                F.lit(attribute_id))))
        return {"attributes_deleted": n_attr,
                "archive_records_deleted": obs.get["n_doomed"]}

    # ------------------------------------------------------- tree reload

    def load_tree(self, database: str, json_path: str) -> dict:
        """D2/D3 (populate.py:369-597): (re)load the hierarchy from a
        tree-cache file, preserving derived attributes by path and
        remapping archive ids old→new.

        The reference does this with four recursive CTEs and a
        Python remap loop; here old/new catalogs join on path and the
        archive gets one broadcast-join rewrite.
        """
        self.store.create_database(database)
        old_elem = self.store.element(database)
        old_attr = self.store.attribute(database)
        new_elem, new_attr = load_tree_cache(self.spark, json_path)

        # ONE hierarchy closure per catalog generation, materialized
        # (dimension-sized): old paths feed both the derived snapshot
        # and the id remap; new paths feed the remap AND the derived
        # restore — recomputing the iterative closure for each use
        # tripled this method's job count. The two closures read
        # independent inputs (stored old dims vs the parsed tree
        # cache) — overlapped (optimization r15, guide §2.6)
        from industrial_data_pipeline_spark.operators.lsh_index import (
            run_writes_concurrently)

        old_elem_paths, elem_paths = run_writes_concurrently(
            lambda: hierarchy_paths(old_elem).select(
                "element_id", "path").localCheckpoint(eager=True),
            lambda: hierarchy_paths(new_elem).select(
                "element_id", "path").localCheckpoint(eager=True))
        old_paths = self._attr_paths_from(old_elem_paths, old_attr)
        new_paths = self._attr_paths_from(elem_paths, new_attr)
        # collapse duplicate paths to ONE id (lowest — the reference
        # builds {path: id} dicts, which likewise collapse): without
        # this, two same-named attributes on one element make the
        # path join many-to-many and every reload DUPLICATES their
        # archive history
        new_paths_1 = (new_paths.groupBy("attribute_path")
                       .agg(F.min("attribute_id").alias("attribute_id")))

        # snapshot derived attrs by full path (backup, populate.py:163-296)
        derived = (old_attr.where(F.col("formula").isNotNull())
                   .join(old_paths, "attribute_id")
                   .select(F.col("attribute_id").alias("old_id"),
                           "name", "kks", "formula", "attribute_path"))

        # id remap for source attrs: old_id → new_id on equal path
        old_non_derived = (old_attr.where(F.col("formula").isNull())
                           .join(old_paths, "attribute_id")
                           .select(F.col("attribute_id").alias("old_id"),
                                   "attribute_path"))
        idmap = (old_non_derived
                 .groupBy("attribute_path")
                 .agg(F.min("old_id").alias("old_id"))
                 .join(new_paths_1, "attribute_path")
                 .select("old_id", F.col("attribute_id").alias("new_id")))

        # restore deriveds under matching parent-element paths
        derived_rows = derived.withColumn(
            "_parent_path",
            F.expr("substring(attribute_path, 1, length(attribute_path) "
                   "- length(name) - 1)")) \
            .join(elem_paths,
                  F.col("_parent_path") == F.col("path")) \
            .select("element_id", "name", "kks", "formula", "old_id")
        base = self._next_id(new_attr, "attribute_id")
        # id assignment is driver-side: the derived snapshot is
        # dimension-sized (catalog attributes) by construction, so a
        # collect + enumerate replaces the global row_number window
        # the earlier version used — one bounded job, no WindowExec,
        # and every downstream consumer (final_attr, the id-map
        # union, each per-partition archive rewrite) reads a local
        # frame instead of re-executing the plan
        drows = sorted(derived_rows.collect(),
                       key=lambda r: r["old_id"])
        restored = self.spark.createDataFrame(
            [(r["element_id"], r["name"], r["kks"], r["formula"],
              r["old_id"], int(base + i))
             for i, r in enumerate(drows)],
            "element_id long, name string, kks string, "
            "formula string, old_id long, attribute_id long")
        final_attr = new_attr.unionByName(
            restored.select("element_id", "attribute_id", "name", "kks",
                            "formula"))
        derived_idmap = restored.select(
            "old_id", F.col("attribute_id").alias("new_id"))
        full_idmap = idmap.unionByName(derived_idmap)

        # remap archive attribute ids (populate.py:530-597) and purge
        # rows whose attribute no longer exists (J6, populate.py:409-417)
        arch = self.store.archive_values(database)
        # INNER remap: an archive row whose old attribute has no path
        # match in the new tree is DROPPED — the earlier left-join +
        # coalesce kept its raw id, and when the new tree's dense
        # preorder reused that id the orphan history silently merged
        # into an unrelated attribute (and could collide on
        # (attribute_id, timestamp) with the rightful rows)
        remapped = (arch.join(
            F.broadcast(full_idmap),
            arch.attribute_id == F.col("old_id"), "inner")
            .select(F.col("new_id").alias("attribute_id"),
                    "timestamp", "value"))
        cleaned = purge_orphans(
            remapped, final_attr.select("attribute_id"))

        # final_attr still reads the OLD dims; materialize it (it is
        # dimension-sized) before any directory swap, and rewrite the
        # archive (which also reads the old dims) before the dims.
        # (The two dim overwrites stay sequential: they serialize on
        # the store's per-database writer lock by design.)
        final_attr = final_attr.localCheckpoint(eager=True)
        self.store.rewrite_archive(database, cleaned)
        self.store.overwrite_dim(database, "element", new_elem)
        self.store.overwrite_dim(database, "attribute", final_attr)
        return {"element_count": new_elem.count(),
                "attribute_count": final_attr.count()}

    @staticmethod
    def _attr_paths_from(elem_paths: DataFrame, attribute: DataFrame):
        """Attribute paths from PRE-COMPUTED element paths (same
        format as operators.closure.attribute_paths: path|name)."""
        return (attribute.join(F.broadcast(elem_paths), "element_id")
                .select("attribute_id",
                        F.concat(F.col("path"), F.lit("|"),
                                 F.col("name")).alias("attribute_path")))

    def update_mapping_cache(self, database: str, db_map_path: str,
                             pi_map_path: str | None = None,
                             server: str | None = None) -> dict:
        """POST /api/update-cache (web_app.py:316) / D9. Returns both
        counts (fixes reference bug §2.12.3)."""
        elem = self.store.element(database)
        attr = self.store.attribute(database)
        mapping = build_mapping(elem, attr)
        write_mapping(mapping, db_map_path)
        if pi_map_path is not None and server is not None:
            write_mapping(build_mapping(elem, attr, server=server),
                          pi_map_path)
        return {"element_count": elem.count(),
                "attribute_count": len(mapping)}
