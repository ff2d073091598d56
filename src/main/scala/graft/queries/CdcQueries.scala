package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.source.Changelog
import graft.op.{Checker, Compactor, Processors}

/** Declared queries covering the reference's operator inventory
  * (SURVEY.md §2): processors P1–P8, checker K3, routing K1, scan S2.
  * Each runs the Spark operator from [[graft.op]] over the deterministic
  * changelog derived from `events` and is checked against a DuckDB oracle
  * built on the identical derivation ([[Changelog.oracleCte]]).
  */
object CdcQueries {
  private val cte = Changelog.oracleCte

  val defs: Map[String, QueryDef] = Map(

    // P1 — predicate filter (regex on full table name + op set)
    "p1_filter" -> QueryDef(
      (s, dir) => {
        Processors.dmlFilter("^srcdb\\.sbtest[0-4]$", Seq("insert", "delete"))(
          Changelog.fromEvents(s, dir))
          .select(col("seq"), col("pk"), col("tbl"), col("op"))
          .orderBy("seq")
      },
      Some(s"""$cte
        |SELECT seq, pk, tbl, op FROM changelog
        |WHERE regexp_matches(db || '.' || tbl, '^srcdb\\.sbtest[0-4]$$')
        |  AND op IN ('insert','delete')
        |ORDER BY seq""".stripMargin)),

    // P2 — positional row arrays -> named map -> typed fields
    "p2_convert" -> QueryDef(
      (s, dir) => {
        val flat = Changelog.fromEvents(s, dir)
          .withColumn("positional", array(
            col("r_id").cast("string"), col("r_k").cast("string"), col("r_v").cast("string")))
        Processors.positionalToNamed(Seq("id", "k", "v"), "positional", "named")(flat)
          .select(col("seq"), col("pk"),
            element_at(col("named"), "id").cast("long").as("id_val"),
            element_at(col("named"), "k").cast("int").as("k_val"),
            element_at(col("named"), "v").cast("double").as("v_val"))
          .orderBy("seq")
      },
      Some(s"""$cte
        |SELECT seq, pk, r_id AS id_val, r_k AS k_val, r_v AS v_val
        |FROM changelog ORDER BY seq""".stripMargin)),

    // P2b — canonical map-typed stage (DBChangeEvent analog): flat →
    // map images → GetRow() semantics (old_row for deletes, else
    // new_row) → scalar extraction. Maps stay internal; output is flat.
    "p2b_canonical" -> QueryDef(
      (s, dir) => {
        val canonical = Changelog.toCanonical(Changelog.fromEvents(s, dir))
        canonical
          .withColumn("row_img",
            when(col("operation") === "delete", col("old_row")).otherwise(col("new_row")))
          .select(col("sequence").as("seq"), col("table").as("tbl"),
            col("operation").as("op"),
            element_at(col("row_img"), "id").cast("long").as("row_id"),
            element_at(col("row_img"), "k").cast("int").as("row_k"))
          .orderBy("seq")
      },
      Some(s"""$cte
        |SELECT seq, tbl, op, r_id AS row_id, r_k AS row_k
        |FROM changelog ORDER BY seq""".stripMargin)),

    // P3 — db rename + operation remap + column rename
    "p3_remap" -> QueryDef(
      (s, dir) => {
        val remapped = Processors.renameTable(Map("srcdb" -> "destdb"), Map.empty)(
          Processors.remapOperation(Map("insert" -> "update"))(Changelog.fromEvents(s, dir)))
        remapped.withColumnRenamed("r_k", "r_k2")
          .select(col("seq"), col("pk"), col("db"), col("op"), col("r_k2"))
          .orderBy("seq")
      },
      Some(s"""$cte
        |SELECT seq, pk, 'destdb' AS db,
        |       CASE WHEN op = 'insert' THEN 'update' ELSE op END AS op,
        |       r_k AS r_k2
        |FROM changelog ORDER BY seq""".stripMargin)),

    // P3 logical-name indirection: mapping keyed by the CAUGHT logical
    // name, applied to the physical by first-substring replace — the
    // shard suffix survives (dbchange.go:166-219).
    "p3_logical" -> QueryDef(
      (s, dir) => {
        val out = Processors.renameTableLogical(Map("sbtest" -> "shard_"))(
          Processors.nameCatcher("^([a-z]+)\\d+$")(Changelog.fromEvents(s, dir)))
        out.groupBy("tbl").agg(count(lit(1)).as("cnt")).orderBy("tbl")
      },
      Some(s"""$cte
        |SELECT 'shard_' || regexp_extract(tbl, '^[a-z]+(\\d+)$$', 1) AS tbl,
        |       COUNT(*) AS cnt
        |FROM changelog GROUP BY 1 ORDER BY 1""".stripMargin)),

    // P4 — regex-capture logical table from sharded physical name
    "p4_namecatcher" -> QueryDef(
      (s, dir) => {
        Processors.nameCatcher("^([a-z]+)\\d+$")(Changelog.fromEvents(s, dir))
          .groupBy("logical_table")
          .agg(count(lit(1)).as("cnt"), countDistinct(col("tbl")).as("n_phys"))
          .orderBy("logical_table")
      },
      Some(s"""$cte
        |SELECT regexp_extract(tbl, '^([a-z]+)\\d+$$', 1) AS logical_table,
        |       COUNT(*) AS cnt, COUNT(DISTINCT tbl) AS n_phys
        |FROM changelog GROUP BY 1 ORDER BY 1""".stripMargin)),

    // P5 — per-table configured column value as partition key
    "p5_keyvalue" -> QueryDef(
      (s, dir) => {
        val cfg = (0 to 9).map(i => s"sbtest$i" -> (if (i <= 4) "id" else "k")).toMap
        val withRow = Changelog.fromEvents(s, dir)
          .withColumn("logical_table", col("tbl"))
          .withColumn("row_img", map(
            lit("id"), col("r_id").cast("string"), lit("k"), col("r_k").cast("string")))
        Processors.columnValue(cfg, "row_img")(withRow)
          .select(col("seq"), col("tbl"), col("partition_key"))
          .orderBy("seq")
      },
      Some(s"""$cte
        |SELECT seq, tbl,
        |       CASE WHEN CAST(SUBSTR(tbl, 7) AS INTEGER) <= 4
        |            THEN CAST(r_id AS VARCHAR) ELSE CAST(r_k AS VARCHAR) END AS partition_key
        |FROM changelog ORDER BY seq""".stripMargin)),

    // P6 — static dictionary lookup (logical table -> kafka topic)
    "p6_valuemap" -> QueryDef(
      (s, dir) => {
        val topics = (0 to 9).map(i => s"sbtest$i" -> s"topic_${i % 3}").toMap
        Processors.valueMap(topics, "tbl", "topic")(Changelog.fromEvents(s, dir))
          .select(col("tbl"), col("topic")).distinct()
          .orderBy("tbl")
      },
      Some(s"""$cte
        |SELECT DISTINCT tbl,
        |       'topic_' || CAST(CAST(SUBSTR(tbl, 7) AS INTEGER) % 3 AS VARCHAR) AS topic
        |FROM changelog ORDER BY tbl""".stripMargin)),

    // P7 — JSON marshal/unmarshal round trip
    "p7_json" -> QueryDef(
      (s, dir) => {
        val sel = Changelog.fromEvents(s, dir).select("seq", "pk", "op", "r_k", "r_v")
        val marshalled = Processors.marshal("json")(sel).select("json")
        Processors.unmarshal("json", sel.schema)(marshalled)
          .orderBy("seq")
      },
      Some(s"""$cte
        |SELECT seq, pk, op, r_k, r_v FROM changelog ORDER BY seq""".stripMargin)),

    // P7b — JSON codec over the CANONICAL map-typed event (the
    // reference's actual P7 payload, DBChangeEvent with named-map row
    // images, marshaller.go:18-24 / unmarshaller.go:19-31): marshal the
    // full canonical struct — maps included — to JSON bytes, parse back
    // under the declared schema, then extract through GetRow semantics.
    // Gates map<string,string> JSON fidelity, which p7_json's flat form
    // never touches.
    "p7_canonical" -> QueryDef(
      (s, dir) => {
        val canonical = Changelog.toCanonical(Changelog.fromEvents(s, dir))
        val marshalled = canonical.select(to_json(struct(canonical.columns.map(col): _*)).as("json"))
        val back = marshalled.select(
          from_json(col("json"), canonical.schema).as("e")).select("e.*")
        back
          .withColumn("row_img",
            when(col("operation") === "delete", col("old_row")).otherwise(col("new_row")))
          .select(col("sequence").as("seq"), col("table").as("tbl"),
            col("operation").as("op"),
            element_at(col("row_img"), "id").cast("long").as("row_id"),
            element_at(col("row_img"), "v").cast("double").as("row_v"))
          .orderBy("seq")
      },
      Some(s"""$cte
        |SELECT seq, tbl, op, r_id AS row_id, r_v AS row_v
        |FROM changelog ORDER BY seq""".stripMargin)),

    // P8 — changelog compaction (the flagship fold; see Compactor)
    "p8_compact" -> QueryDef(
      (s, dir) => Compactor.compact(Changelog.fromEvents(s, dir)).orderBy("tbl", "pk"),
      Some(s"""$cte,
        |net AS (
        |  SELECT tbl, pk, min_by(op, seq) AS first_op, max_by(op, seq) AS last_op,
        |         max(seq) AS last_seq
        |  FROM changelog GROUP BY tbl, pk),
        |lastrow AS (
        |  SELECT tbl, pk, max_by(r_id, seq) AS u_id, max_by(r_k, seq) AS u_k,
        |         max_by(r_v, seq) AS u_v
        |  FROM changelog WHERE op <> 'delete' GROUP BY tbl, pk)
        |SELECT n.tbl AS tbl, n.pk AS pk,
        |       CASE WHEN n.last_op = 'delete' THEN 'delete'
        |            WHEN n.first_op = 'insert' THEN 'insert'
        |            ELSE 'update' END AS net_op,
        |       CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_id END AS r_id,
        |       CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_k END AS r_k,
        |       CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_v END AS r_v,
        |       n.last_seq AS last_seq
        |FROM net n LEFT JOIN lastrow l ON n.tbl = l.tbl AND n.pk = l.pk
        |WHERE NOT (n.last_op = 'delete' AND n.first_op = 'insert')
        |ORDER BY tbl, pk""".stripMargin)),

    // P8b — illegal-transition quarantine (the reference hard-errors on
    // these, batchmessage.go:44-52; the engine dead-letters them).
    "p8_quarantine" -> QueryDef(
      (s, dir) => Compactor.quarantine(Changelog.fromEvents(s, dir)).orderBy("seq"),
      Some(s"""$cte,
        |w AS (
        |  SELECT tbl, pk, seq, op,
        |         lag(op) OVER (PARTITION BY tbl, pk ORDER BY seq) AS prev_op
        |  FROM changelog)
        |SELECT tbl, pk, seq, prev_op, op FROM w
        |WHERE (prev_op = 'delete' AND op <> 'insert')
        |   OR (prev_op IN ('insert','update') AND op = 'insert')
        |ORDER BY seq""".stripMargin)),

    // K1 — hash routing: per-key bucket assignment + per-bucket stats.
    // (The physical partition-id isn't oracle-portable, so the declared
    //  query checks the routing *function*; Processors.route is the
    //  physical form — repartition + sortWithinPartitions.)
    "k1_route" -> QueryDef(
      (s, dir) => {
        Changelog.fromEvents(s, dir)
          .withColumn("bucket", pmod(col("pk"), lit(8)))
          .groupBy("bucket")
          .agg(count(lit(1)).as("cnt"), countDistinct(col("pk")).as("n_keys"),
            max("seq").as("max_seq"))
          .orderBy("bucket")
      },
      Some(s"""$cte
        |SELECT pk % 8 AS bucket, COUNT(*) AS cnt, COUNT(DISTINCT pk) AS n_keys,
        |       MAX(seq) AS max_seq
        |FROM changelog GROUP BY 1 ORDER BY 1""".stripMargin)),

    // K3 — consistency checker: source vs deterministically perturbed target
    "k3_check" -> QueryDef(
      (s, dir) => {
        val src = Changelog.table(s, dir, "orders")
        val tgt = src.filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("o_totalprice",
            col("o_totalprice") + when(col("o_orderkey") % 89 === 0, 1.0).otherwise(0.0))
        Checker.check(src, tgt, Seq("o_orderkey")).orderBy("o_orderkey")
      },
      Some("""WITH tgt AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice + CASE WHEN o_orderkey % 89 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 <> 0)
        |SELECT s.o_orderkey AS o_orderkey,
        |       CASE WHEN t.o_orderkey IS NULL THEN 'row_miss' ELSE 'row_diff' END AS check_result
        |FROM orders s LEFT JOIN tgt t ON s.o_orderkey = t.o_orderkey
        |WHERE t.o_orderkey IS NULL
        |   OR s.o_custkey       IS DISTINCT FROM t.o_custkey
        |   OR s.o_orderstatus   IS DISTINCT FROM t.o_orderstatus
        |   OR s.o_totalprice    IS DISTINCT FROM t.o_totalprice
        |   OR s.o_orderdate     IS DISTINCT FROM t.o_orderdate
        |   OR s.o_orderpriority IS DISTINCT FROM t.o_orderpriority
        |ORDER BY o_orderkey""".stripMargin)),

    // K3 stage 2 — recheck: keep only mismatches stable at the cutoff
    "k3_recheck" -> QueryDef(
      (s, dir) => {
        val src = Changelog.table(s, dir, "orders")
        val tgt = src.filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("o_totalprice",
            col("o_totalprice") + when(col("o_orderkey") % 89 === 0, 1.0).otherwise(0.0))
        val mismatches = Checker.check(src, tgt, Seq("o_orderkey"))
        Checker.recheck(mismatches, src, Seq("o_orderkey"),
          "o_orderdate", lit("1997-06-01").cast("timestamp_ntz"))
          .orderBy("o_orderkey")
      },
      Some("""WITH tgt AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         o_totalprice + CASE WHEN o_orderkey % 89 = 0 THEN 1.0 ELSE 0.0 END AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 <> 0),
        |mism AS (
        |  SELECT s.o_orderkey AS o_orderkey,
        |         CASE WHEN t.o_orderkey IS NULL THEN 'row_miss' ELSE 'row_diff' END AS check_result
        |  FROM orders s LEFT JOIN tgt t ON s.o_orderkey = t.o_orderkey
        |  WHERE t.o_orderkey IS NULL
        |     OR s.o_custkey       IS DISTINCT FROM t.o_custkey
        |     OR s.o_orderstatus   IS DISTINCT FROM t.o_orderstatus
        |     OR s.o_totalprice    IS DISTINCT FROM t.o_totalprice
        |     OR s.o_orderdate     IS DISTINCT FROM t.o_orderdate
        |     OR s.o_orderpriority IS DISTINCT FROM t.o_orderpriority)
        |SELECT m.o_orderkey AS o_orderkey, m.check_result AS check_result
        |FROM mism m JOIN orders c ON m.o_orderkey = c.o_orderkey
        |WHERE c.o_orderdate < TIMESTAMP '1997-06-01'
        |ORDER BY o_orderkey""".stripMargin)),

    // K2 delta-log apply, end to end — the flagship batch-sync delivery
    // (reference tableprocessor.go:198-257): the changelog is cut into
    // seq-ranged micro-batches, each batch compacted (P8) and APPENDED to
    // a DeltaStore as a new generation, then the resolved state is read
    // back (last-writer-wins by batch id, tombstones drop). maxChain=2
    // forces chain-cap folds inside the gated path, so compaction is
    // oracle-checked too. The oracle replays the identical algebra in
    // SQL: per-batch compaction (the p8_compact spelling, grouped also by
    // batch), then newest-batch-wins via QUALIFY. NOTE this is NOT
    // one-shot compaction of the whole log: a batch whose ops for a key
    // net insert→delete writes nothing, so the store keeps the key's
    // PRIOR state — the oracle models the store, not the shortcut (130
    // vs 120 rows at sf0.01).
    "delta_sync" -> QueryDef(
      (s, dir) => {
        // parsed ONCE: the 4 slice-appends below each re-read the
        // changelog otherwise (parquet scan + get_json_object per
        // slice) — cache the narrow log for the gate's lifetime, so
        // maxSeq + 4 slices pay the parse once (guide §1.2: don't
        // recompute what you already have; unpersisted in the finally)
        val log = Changelog.fromEvents(s, dir).cache()
        val nB = 4
        val maxSeq = log.agg(max("seq")).head().getLong(0) // 1-row metadata
        val tmp = java.nio.file.Files.createTempDirectory("graft-delta-sync-q")
        try {
          val target = s"$tmp/state"
          (0 until nB).foreach { b =>
            val slice = log.filter(expr(s"seq * $nB div ${maxSeq + 1}") === b)
            graft.sink.DeltaStore.append(Compactor.compact(slice), target,
              Seq("tbl", "pk"), nBuckets = 16, batchId = b, maxChain = 2)
          }
          val res = graft.sink.DeltaStore.read(s, target).get
            .select("tbl", "pk", "r_id", "r_k", "r_v", "last_seq")
            .orderBy("tbl", "pk")
          val rows = res.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
        } finally { log.unpersist(); Registry.rmTree(tmp.toFile) }
      },
      Some(s"""$cte,
        |batched AS (
        |  SELECT *, seq * 4 // ((SELECT max(seq) FROM changelog) + 1) AS batch
        |  FROM changelog),
        |net AS (
        |  SELECT batch, tbl, pk, min_by(op, seq) AS first_op,
        |         max_by(op, seq) AS last_op, max(seq) AS last_seq
        |  FROM batched GROUP BY batch, tbl, pk),
        |lastrow AS (
        |  SELECT batch, tbl, pk, max_by(r_id, seq) AS u_id,
        |         max_by(r_k, seq) AS u_k, max_by(r_v, seq) AS u_v
        |  FROM batched WHERE op <> 'delete' GROUP BY batch, tbl, pk),
        |compacted AS (
        |  SELECT n.batch AS batch, n.tbl AS tbl, n.pk AS pk,
        |         CASE WHEN n.last_op = 'delete' THEN 'delete'
        |              WHEN n.first_op = 'insert' THEN 'insert'
        |              ELSE 'update' END AS net_op,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_id END AS r_id,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_k END AS r_k,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_v END AS r_v,
        |         n.last_seq AS last_seq
        |  FROM net n LEFT JOIN lastrow l
        |    ON n.batch = l.batch AND n.tbl = l.tbl AND n.pk = l.pk
        |  WHERE NOT (n.last_op = 'delete' AND n.first_op = 'insert')),
        |resolved AS (
        |  SELECT * FROM compacted
        |  QUALIFY row_number() OVER (PARTITION BY tbl, pk ORDER BY batch DESC) = 1)
        |SELECT tbl, pk, r_id, r_k, r_v, last_seq FROM resolved
        |WHERE net_op <> 'delete'
        |ORDER BY tbl, pk""".stripMargin)),

    // Time-travel read of the delta store: after landing 4 batches,
    // resolve the state AS OF batch 2 — exactly what a reader saw after
    // batch 2's flip (keys first appended in batch 3 absent, later
    // updates/tombstones ignored). maxChain is high so no chain folds:
    // folds collapse history under the folding batch's id (the LSM
    // horizon), and DeltaStore records that floor and REFUSES travel
    // below it — DeltaStoreSpec pins the refusal; this query gates the
    // in-horizon resolve against the batch-2-truncated replay oracle.
    // The read goes through the CONFIG front-end (a `delta` source with
    // `asOfBatch`, examples/delta_read.json's task shape) so the gate
    // witnesses the config path, not just the library call.
    "delta_timetravel" -> QueryDef(
      (s, dir) => {
        // parsed ONCE: the 4 slice-appends below each re-read the
        // changelog otherwise (parquet scan + get_json_object per
        // slice) — cache the narrow log for the gate's lifetime, so
        // maxSeq + 4 slices pay the parse once (guide §1.2: don't
        // recompute what you already have; unpersisted in the finally)
        val log = Changelog.fromEvents(s, dir).cache()
        val nB = 4
        val maxSeq = log.agg(max("seq")).head().getLong(0) // 1-row metadata
        val tmp = java.nio.file.Files.createTempDirectory("graft-delta-tt-q")
        try {
          val target = s"$tmp/state"
          (0 until nB).foreach { b =>
            val slice = log.filter(expr(s"seq * $nB div ${maxSeq + 1}") === b)
            graft.sink.DeltaStore.append(Compactor.compact(slice), target,
              Seq("tbl", "pk"), nBuckets = 16, batchId = b, maxChain = 16)
          }
          val res = graft.pipeline.Pipeline.buildFrame(s,
            s"""{"source": {"type": "delta", "path": "$target", "asOfBatch": 2},
                 "processors": [], "sink": {"type": "noop"}}""")
            .select("tbl", "pk", "r_id", "r_k", "r_v", "last_seq")
            .orderBy("tbl", "pk")
          val rows = res.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
        } finally { log.unpersist(); Registry.rmTree(tmp.toFile) }
      },
      Some(s"""$cte,
        |batched AS (
        |  SELECT *, seq * 4 // ((SELECT max(seq) FROM changelog) + 1) AS batch
        |  FROM changelog),
        |hist AS (SELECT * FROM batched WHERE batch <= 2),
        |net AS (
        |  SELECT batch, tbl, pk, min_by(op, seq) AS first_op,
        |         max_by(op, seq) AS last_op, max(seq) AS last_seq
        |  FROM hist GROUP BY batch, tbl, pk),
        |lastrow AS (
        |  SELECT batch, tbl, pk, max_by(r_id, seq) AS u_id,
        |         max_by(r_k, seq) AS u_k, max_by(r_v, seq) AS u_v
        |  FROM hist WHERE op <> 'delete' GROUP BY batch, tbl, pk),
        |compacted AS (
        |  SELECT n.batch AS batch, n.tbl AS tbl, n.pk AS pk,
        |         CASE WHEN n.last_op = 'delete' THEN 'delete'
        |              WHEN n.first_op = 'insert' THEN 'insert'
        |              ELSE 'update' END AS net_op,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_id END AS r_id,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_k END AS r_k,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_v END AS r_v,
        |         n.last_seq AS last_seq
        |  FROM net n LEFT JOIN lastrow l
        |    ON n.batch = l.batch AND n.tbl = l.tbl AND n.pk = l.pk
        |  WHERE NOT (n.last_op = 'delete' AND n.first_op = 'insert')),
        |resolved AS (
        |  SELECT * FROM compacted
        |  QUALIFY row_number() OVER (PARTITION BY tbl, pk ORDER BY batch DESC) = 1)
        |SELECT tbl, pk, r_id, r_k, r_v, last_seq FROM resolved
        |WHERE net_op <> 'delete'
        |ORDER BY tbl, pk""".stripMargin)),

    // CDC-OUT: the store's row-level change feed between two committed
    // cuts — everything a downstream consumer applies to move from the
    // state AS OF batch 1 to AS OF batch 3 (insert/update/delete per pk,
    // post-image values, pre-image for deletes). Derived from the log
    // structure in ONE scan + ONE hash agg over only the buckets whose
    // chains changed inside the window (DeltaStoreSpec pins the file
    // pruning) — never two resolves + a full outer join. The oracle IS
    // the two-resolve diff: both time-travel replays full-outer-joined
    // and classified, which is exactly what the feed must equal. Runs
    // through the config front-end (`changesFrom`/`changesTo` on a
    // `delta` source).
    "delta_changes" -> QueryDef(
      (s, dir) => {
        // parsed ONCE: the 4 slice-appends below each re-read the
        // changelog otherwise (parquet scan + get_json_object per
        // slice) — cache the narrow log for the gate's lifetime, so
        // maxSeq + 4 slices pay the parse once (guide §1.2: don't
        // recompute what you already have; unpersisted in the finally)
        val log = Changelog.fromEvents(s, dir).cache()
        val nB = 4
        val maxSeq = log.agg(max("seq")).head().getLong(0) // 1-row metadata
        val tmp = java.nio.file.Files.createTempDirectory("graft-delta-feed-q")
        try {
          val target = s"$tmp/state"
          (0 until nB).foreach { b =>
            val slice = log.filter(expr(s"seq * $nB div ${maxSeq + 1}") === b)
            graft.sink.DeltaStore.append(Compactor.compact(slice), target,
              Seq("tbl", "pk"), nBuckets = 16, batchId = b, maxChain = 16)
          }
          val res = graft.pipeline.Pipeline.buildFrame(s,
            s"""{"source": {"type": "delta", "path": "$target",
                            "changesFrom": 1, "changesTo": 3},
                 "processors": [], "sink": {"type": "noop"}}""")
            .select("tbl", "pk", "change", "r_id", "r_k", "r_v", "last_seq")
            .orderBy("tbl", "pk")
          val rows = res.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
        } finally { log.unpersist(); Registry.rmTree(tmp.toFile) }
      },
      Some(s"""$cte,
        |batched AS (
        |  SELECT *, seq * 4 // ((SELECT max(seq) FROM changelog) + 1) AS batch
        |  FROM changelog),
        |net AS (
        |  SELECT batch, tbl, pk, min_by(op, seq) AS first_op,
        |         max_by(op, seq) AS last_op, max(seq) AS last_seq
        |  FROM batched GROUP BY batch, tbl, pk),
        |lastrow AS (
        |  SELECT batch, tbl, pk, max_by(r_id, seq) AS u_id,
        |         max_by(r_k, seq) AS u_k, max_by(r_v, seq) AS u_v
        |  FROM batched WHERE op <> 'delete' GROUP BY batch, tbl, pk),
        |compacted AS (
        |  SELECT n.batch AS batch, n.tbl AS tbl, n.pk AS pk,
        |         CASE WHEN n.last_op = 'delete' THEN 'delete'
        |              WHEN n.first_op = 'insert' THEN 'insert'
        |              ELSE 'update' END AS net_op,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_id END AS r_id,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_k END AS r_k,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_v END AS r_v,
        |         n.last_seq AS last_seq
        |  FROM net n LEFT JOIN lastrow l
        |    ON n.batch = l.batch AND n.tbl = l.tbl AND n.pk = l.pk
        |  WHERE NOT (n.last_op = 'delete' AND n.first_op = 'insert')),
        |a AS (
        |  SELECT * FROM compacted WHERE batch <= 1
        |  QUALIFY row_number() OVER (PARTITION BY tbl, pk ORDER BY batch DESC) = 1),
        |b AS (
        |  SELECT * FROM compacted WHERE batch <= 3
        |  QUALIFY row_number() OVER (PARTITION BY tbl, pk ORDER BY batch DESC) = 1),
        |al AS (SELECT * FROM a WHERE net_op <> 'delete'),
        |bl AS (SELECT * FROM b WHERE net_op <> 'delete'),
        |diff AS (
        |  SELECT coalesce(bl.tbl, al.tbl) AS tbl, coalesce(bl.pk, al.pk) AS pk,
        |         CASE WHEN al.tbl IS NULL THEN 'insert'
        |              WHEN bl.tbl IS NULL THEN 'delete'
        |              WHEN al.r_id IS DISTINCT FROM bl.r_id
        |                OR al.r_k  IS DISTINCT FROM bl.r_k
        |                OR al.r_v  IS DISTINCT FROM bl.r_v
        |                OR al.last_seq IS DISTINCT FROM bl.last_seq
        |                THEN 'update' END AS change,
        |         CASE WHEN bl.tbl IS NULL THEN al.r_id ELSE bl.r_id END AS r_id,
        |         CASE WHEN bl.tbl IS NULL THEN al.r_k  ELSE bl.r_k  END AS r_k,
        |         CASE WHEN bl.tbl IS NULL THEN al.r_v  ELSE bl.r_v  END AS r_v,
        |         CASE WHEN bl.tbl IS NULL THEN al.last_seq ELSE bl.last_seq END AS last_seq
        |  FROM al FULL OUTER JOIN bl ON al.tbl = bl.tbl AND al.pk = bl.pk)
        |SELECT tbl, pk, change, r_id, r_k, r_v, last_seq FROM diff
        |WHERE change IS NOT NULL
        |ORDER BY tbl, pk""".stripMargin)),

    // The DSv2 MicroBatchStream (S1's custom source) driving the delta
    // sink end to end — the one S1 form that had specs but no oracle
    // gate: spooled seq-ordered segments, index offsets, admission-
    // control rate limit, checkpointed micro-batches, LWW delta apply.
    // maxRowsPerTrigger is sized to ceil(n/4) so the log drains as
    // exactly 4 rate-limit-cut batches at ANY scale factor; the oracle
    // replays the identical cuts (batch = seq-rank // ceil(n/4)) and the
    // per-batch compaction + newest-batch-wins algebra.
    "s1_dsv2_sync" -> QueryDef(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-dsv2-sync-q")
        try {
          val n = Changelog.events(s, dir).count()
          val per = (n + 3) / 4
          graft.pipeline.Pipeline.runStream(s, s"""{
            "source": {"type": "events_dsv2", "dir": "$dir",
                       "maxRowsPerTrigger": $per, "chunkRows": 4096},
            "processors": [],
            "sink": {"type": "parquet_delta", "path": "$tmp/state",
                     "checkpoint": "$tmp/ckpt", "pk": ["tbl", "pk"],
                     "buckets": 16, "maxChain": 2}
          }""")
          val res = graft.sink.DeltaStore.read(s, s"$tmp/state").get
            .select("tbl", "pk", "r_id", "r_k", "r_v", "last_seq")
            .orderBy("tbl", "pk")
          val rows = res.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
        } finally {
          Registry.rmTree(tmp.toFile)
        }
      },
      Some(s"""$cte,
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY seq) - 1 AS rk FROM changelog),
        |sz AS (SELECT (count(*) + 3) // 4 AS per FROM changelog),
        |batched AS (SELECT r.*, r.rk // z.per AS batch FROM ranked r, sz z),
        |net AS (
        |  SELECT batch, tbl, pk, min_by(op, seq) AS first_op,
        |         max_by(op, seq) AS last_op, max(seq) AS last_seq
        |  FROM batched GROUP BY batch, tbl, pk),
        |lastrow AS (
        |  SELECT batch, tbl, pk, max_by(r_id, seq) AS u_id,
        |         max_by(r_k, seq) AS u_k, max_by(r_v, seq) AS u_v
        |  FROM batched WHERE op <> 'delete' GROUP BY batch, tbl, pk),
        |compacted AS (
        |  SELECT n.batch AS batch, n.tbl AS tbl, n.pk AS pk,
        |         CASE WHEN n.last_op = 'delete' THEN 'delete'
        |              WHEN n.first_op = 'insert' THEN 'insert'
        |              ELSE 'update' END AS net_op,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_id END AS r_id,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_k END AS r_k,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_v END AS r_v,
        |         n.last_seq AS last_seq
        |  FROM net n LEFT JOIN lastrow l
        |    ON n.batch = l.batch AND n.tbl = l.tbl AND n.pk = l.pk
        |  WHERE NOT (n.last_op = 'delete' AND n.first_op = 'insert')),
        |resolved AS (
        |  SELECT * FROM compacted
        |  QUALIFY row_number() OVER (PARTITION BY tbl, pk ORDER BY batch DESC) = 1)
        |SELECT tbl, pk, r_id, r_k, r_v, last_seq FROM resolved
        |WHERE net_op <> 'delete'
        |ORDER BY tbl, pk""".stripMargin)),

    // The STREAMING sync task lifecycle, end to end — where delta_sync
    // gates the DeltaStore append/fold/read ALGEBRA by calling append in
    // a batch loop, this runs the reference's actual task shape
    // (task.go:119-165: source → per-batch compact → incremental apply,
    // checkpointed): Pipeline.runStream drains a 4-slice events_stream
    // (event_id-ranged segments, one micro-batch each under
    // maxFilesPerTrigger=1) through compactedApply into a parquet_delta
    // sink, then reads back the resolved store. Checkpointing, trigger
    // boundaries, and micro-batch id assignment are all INSIDE the gated
    // path. The oracle is delta_sync's per-batch-compaction +
    // newest-batch-wins QUALIFY, with batch = the slice's event_id range
    // ((seq - lo) // span, the staging arithmetic in
    // ChangeStream.fromEventsStream — slice order = batch-id order by the
    // staged files' strictly increasing mtimes). maxChain=2 forces
    // chain-cap folds inside the gated path here too.
    "stream_sync" -> QueryDef(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-stream-sync-q")
        graft.pipeline.Pipeline.runStream(s, deltaStreamConfig(dir, tmp))
        graft.sink.DeltaStore.read(s, s"$tmp/state")
          .get
          .select("tbl", "pk", "r_id", "r_k", "r_v", "last_seq")
          .orderBy("tbl", "pk")
      },
      Some(streamedStateOracle)),

    // The MAINTENANCE lifecycle on top of stream_sync's: drain the same
    // 4-slice stream into the delta store, then run the config-driven
    // `maintenance: snapshot` op (graft.Run's front-end — offline
    // compaction folding every chain to ONE `snap-` generation), and
    // read back POST-snapshot. The oracle is stream_sync's: a snapshot
    // must be invisible to readers. The in-query require proves the fold
    // actually happened (every chain = exactly one snap- generation) —
    // without it a no-op snapshot would still pass the value gate.
    "delta_snapshot" -> QueryDef(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-delta-snap-q")
        try {
          graft.pipeline.Pipeline.runStream(s, deltaStreamConfig(dir, tmp))
          graft.Run.dispatch(s, s"""{"maintenance":
            {"type": "snapshot", "path": "$tmp/state", "buckets": 16}}""")
          val chains = graft.sink.DeltaStore.readManifest(s"$tmp/state")
          require(chains.nonEmpty && chains.values.forall(c =>
            c.size == 1 && c.head.startsWith("snap-")),
            s"snapshot did not fold the store to single snap- chains: $chains")
          val res = graft.sink.DeltaStore.read(s, s"$tmp/state").get
            .select("tbl", "pk", "r_id", "r_k", "r_v", "last_seq")
            .orderBy("tbl", "pk")
          // materialize into a local relation so the temp store can be
          // deleted here (a lazy read would pin the dir; see stream_admit)
          val rows = res.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
        } finally {
          Registry.rmTree(tmp.toFile)
        }
      },
      Some(streamedStateOracle))) ++ moreDefs

  /** Oracle for the streamed delta-store state — shared by stream_sync
    * AND delta_snapshot (a snapshot must be invisible to readers):
    * per-slice compaction + newest-batch-wins QUALIFY, with batch = the
    * slice's event_id range ((seq - lo) // span, the staging arithmetic
    * in ChangeStream.fromEventsStream). */
  private lazy val streamedStateOracle: String = s"""$cte,
        |bounds AS (
        |  SELECT min(seq) AS lo, (max(seq) - min(seq) + 4) // 4 AS span
        |  FROM changelog),
        |batched AS (
        |  SELECT c.*, (c.seq - b.lo) // b.span AS batch
        |  FROM changelog c, bounds b),
        |net AS (
        |  SELECT batch, tbl, pk, min_by(op, seq) AS first_op,
        |         max_by(op, seq) AS last_op, max(seq) AS last_seq
        |  FROM batched GROUP BY batch, tbl, pk),
        |lastrow AS (
        |  SELECT batch, tbl, pk, max_by(r_id, seq) AS u_id,
        |         max_by(r_k, seq) AS u_k, max_by(r_v, seq) AS u_v
        |  FROM batched WHERE op <> 'delete' GROUP BY batch, tbl, pk),
        |compacted AS (
        |  SELECT n.batch AS batch, n.tbl AS tbl, n.pk AS pk,
        |         CASE WHEN n.last_op = 'delete' THEN 'delete'
        |              WHEN n.first_op = 'insert' THEN 'insert'
        |              ELSE 'update' END AS net_op,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_id END AS r_id,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_k END AS r_k,
        |         CASE WHEN n.last_op = 'delete' THEN NULL ELSE l.u_v END AS r_v,
        |         n.last_seq AS last_seq
        |  FROM net n LEFT JOIN lastrow l
        |    ON n.batch = l.batch AND n.tbl = l.tbl AND n.pk = l.pk
        |  WHERE NOT (n.last_op = 'delete' AND n.first_op = 'insert')),
        |resolved AS (
        |  SELECT * FROM compacted
        |  QUALIFY row_number() OVER (PARTITION BY tbl, pk ORDER BY batch DESC) = 1)
        |SELECT tbl, pk, r_id, r_k, r_v, last_seq FROM resolved
        |WHERE net_op <> 'delete'
        |ORDER BY tbl, pk""".stripMargin

  /** The 4-slice events_stream → parquet_delta lifecycle config shared
    * by stream_sync and delta_snapshot: event_id-ranged segments, one
    * micro-batch each under maxFilesPerTrigger=1; maxChain=2 forces
    * chain-cap folds inside the gated path. */
  private def deltaStreamConfig(dir: String, tmp: java.nio.file.Path): String = s"""{
    "source": {"type": "events_stream", "dir": "$dir", "slices": 4},
    "processors": [],
    "sink": {"type": "parquet_delta", "path": "$tmp/state",
             "checkpoint": "$tmp/ckpt", "pk": ["tbl", "pk"],
             "buckets": 16, "maxChain": 2}
  }"""

  private def moreDefs: Map[String, QueryDef] = Map(

    // S1 — the streamed changelog itself, event_time INCLUDED: drain a
    // 2-slice events stream to parquet and hash-compare every row —
    // with the event time as exact epoch-µs — against the batch oracle.
    // This is the tripwire the r12 regression lacked: the stream path
    // once mis-scaled event_time 1000× and stayed green because no gated
    // output exposed it; here a unit slip changes et_us and fails the
    // hash. (Long µs rather than a rendered timestamp: exact and
    // portable across Spark/DuckDB string formats.)
    "s1_stream_events" -> QueryDef(
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-s1-events-q")
        try {
          val q = graft.streaming.ChangeStream.fromEventsStream(s, dir, slices = 2)
            .writeStream.format("parquet")
            .option("path", s"$tmp/data")
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val res = s.read.parquet(s"$tmp/data")
            .select(col("seq"), col("pk"), col("tbl"), col("op"),
              unix_micros(col("event_time")).as("et_us"))
            .orderBy("seq")
          // materialize so the temp drop can be reclaimed (lazy read would
          // pin the dir; same pattern as delta_snapshot)
          val rows = res.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
        } finally {
          // the bench reruns this query several times — reclaim the
          // drained parquet + checkpoint instead of accumulating in /tmp
          Registry.rmTree(tmp.toFile)
        }
      },
      Some(s"""$cte
        |SELECT seq, pk, tbl, op, epoch_us(event_time) AS et_us
        |FROM changelog ORDER BY seq""".stripMargin)),

    // S2 — bounded snapshot scan with logical keyset pages
    "s2_scan" -> QueryDef(
      (s, dir) => {
        Changelog.scan(s, dir, "orders", "o_orderkey")
          .withColumn("page", expr("CAST(FLOOR((seq - 1) / 1000.0) AS BIGINT)"))
          .groupBy("page")
          .agg(count(lit(1)).as("cnt"), min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .orderBy("page")
      },
      Some("""WITH scan AS (
        |  SELECT row_number() OVER (ORDER BY o_orderkey) AS seq, o_orderkey
        |  FROM orders)
        |SELECT CAST(FLOOR((seq - 1) / 1000.0) AS BIGINT) AS page,
        |       COUNT(*) AS cnt, MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
        |FROM scan GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Multi-table scan: regex listing + per-table canonical scan union
    // (reference scaninput.go:126-191). Different shard schemas coexist
    // because rows travel as ordered maps; the kv projection makes the
    // map oracle-comparable without JSON-escaping concerns.
    "s2_multiscan" -> QueryDef(
      (s, dir) => {
        Changelog.scanTables(s, dir, "^(region|nation)$")
          .select(col("tbl"), col("seq"), col("pk"),
            array_join(transform(map_entries(col("row")),
              e => concat(e.getField("key"), lit("="), e.getField("value"))), ";")
              .as("row_kv"))
          .orderBy("tbl", "seq")
      },
      Some("""SELECT 'nation' AS tbl,
        |  CAST(row_number() OVER (ORDER BY n_nationkey) AS BIGINT) AS seq,
        |  CAST(n_nationkey AS VARCHAR) AS pk,
        |  'n_nationkey=' || CAST(n_nationkey AS VARCHAR) ||
        |  ';n_name=' || n_name ||
        |  ';n_regionkey=' || CAST(n_regionkey AS VARCHAR) AS row_kv
        |FROM nation
        |UNION ALL
        |SELECT 'region' AS tbl,
        |  CAST(row_number() OVER (ORDER BY r_regionkey) AS BIGINT) AS seq,
        |  CAST(r_regionkey AS VARCHAR) AS pk,
        |  'r_regionkey=' || CAST(r_regionkey AS VARCHAR) ||
        |  ';r_name=' || r_name AS row_kv
        |FROM region
        |ORDER BY tbl, seq""".stripMargin))
  )
}
