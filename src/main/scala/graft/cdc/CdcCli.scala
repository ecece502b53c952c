package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.lake.IceLite

/** Operational surface for the CDC engine:
  *
  *   runMain graft.cdc.CdcCli gen-log <dir> <nEvents> <epochs> [v1Fraction]
  *   runMain graft.cdc.CdcCli replay  <logDir> <tableDir> [buckets]
  *   runMain graft.cdc.CdcCli tail    <streamDir> <tableDir> <ckptDir> [buckets]
  *   runMain graft.cdc.CdcCli show    <tableDir> [n]
  *   runMain graft.cdc.CdcCli verify  <logDir> <tableDir>   — replay-equality check
  *   runMain graft.cdc.CdcCli changes <tableDir> <fromV> <toV> — incremental change feed
  *   runMain graft.cdc.CdcCli cdf     <tableDir> <fromV> <toV> — change feed with row images
  *   runMain graft.cdc.CdcCli drop-column <tableDir> <col> [epochId] — DDL, retires the field id
  *   runMain graft.cdc.CdcCli add-column <tableDir> <col> <type> <fieldId> [default] [epochId] — DDL with write default
  *   runMain graft.cdc.CdcCli scd2-create <srcDir> <scdDir> [buckets]  — type-2 dimension
  *   runMain graft.cdc.CdcCli scd2-apply  <srcDir> <scdDir>            — advance to src head
  *   runMain graft.cdc.CdcCli scd2-asof   <scdDir> <seq> [n]           — point-in-time read
  *   runMain graft.cdc.CdcCli retry-deadletters <tableDir> [epochTag]  — re-decode kept originals
  *   runMain graft.cdc.CdcCli replay-expect <logDir> <tableDir> <buckets> <guard|-> <name=pred>... — CHECK-rule replay
  *   runMain graft.cdc.CdcCli retry-expect <tableDir> <tag> <name=pred>... — re-evaluate expectation dead letters
  *   runMain graft.cdc.CdcCli release-expect <logDir> <tableDir> <epoch> <name=pred>... — apply a quarantined epoch
  *   runMain graft.cdc.CdcCli quarantined <tableDir> — list quarantine markers
  *   runMain graft.cdc.CdcCli bootstrap <snapshotParquet> <tableDir> [buckets] — bulk attach
  *   runMain graft.cdc.CdcCli bootstrap-chunk <srcTable> <replicaTable> <lo> <hi> <chunkId> [buckets] — DBLog-style chunked attach
  */
object CdcCli {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-cdc")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      // keep scan parallelism >= cores: default 128MB splits pack an epoch
      // into ~7 partitions and starve the decode stage at local[32]
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.contains("SPARK_GRAFT_STAGES")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
          val cpu = si.taskMetrics.executorRunTime / 1000.0
          val gc = si.taskMetrics.jvmGCTime / 1000.0
          val cpuT = si.taskMetrics.executorCpuTime / 1e9
          val m = si.taskMetrics
          println(f"[stage] id=${si.stageId}%3d tasks=${si.numTasks}%4d wall=$wall%6.1fs taskTime=$cpu%7.1fs cpuTime=$cpuT%7.1fs gc=$gc%6.1fs in=${m.inputMetrics.bytesRead / 1e9}%5.1fG sr=${m.shuffleReadMetrics.totalBytesRead / 1e9}%5.1fG sw=${m.shuffleWriteMetrics.bytesWritten / 1e9}%5.1fG ${si.name.take(30)}")
        }
      })
    }
    try run(spark, args) finally spark.stop()
  }

  private def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "gen-log" :: dir :: n :: epochs :: rest =>
      val v1f = rest.headOption.map(_.toDouble).getOrElse(1.0)
      LogGen.writeLog(spark, LogGen.Params(nEvents = n.toLong, v1Fraction = v1f), dir, epochs.toInt)
      println(s"wrote $n events in $epochs epochs to $dir")
    case "replay" :: logDir :: tableDir :: rest =>
      // replay <log> <table> [buckets] [namespace] — distinct namespaces
      // let two different logs feed one table without fence collisions
      val buckets = rest.headOption.map(_.toInt).getOrElse(32)
      val ns = rest.drop(1).headOption.getOrElse("replay")
      val t0 = System.nanoTime()
      val r = Replay.replayLog(spark, logDir, tableDir, buckets, namespace = ns)
      val sec = (System.nanoTime() - t0) / 1e9
      val applied = r.stats.count(_.applied)
      val rows = r.stats.map(_.batchRows).sum
      println(f"replayed ${r.epochs} epochs ($applied applied, ${r.epochs - applied} fenced), $rows change rows in $sec%.1f s (${rows / sec}%.0f events/s)")
    case "tail" :: streamDir :: tableDir :: ckpt :: rest =>
      val buckets = rest.headOption.map(_.toInt).getOrElse(32)
      val q = Tail.start(spark, streamDir, tableDir, ckpt, buckets)
      q.awaitTermination()
      println(s"tail drained into $tableDir")
    case "replay-bench" :: logDir :: tableDir :: rest =>
      // the bench path: no keys pre-pass (all buckets rewritten)
      val buckets = rest.headOption.map(_.toInt).getOrElse(64)
      val t0 = System.nanoTime()
      val r = Replay.replayLog(spark, logDir, tableDir, buckets, pruneBuckets = false)
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = r.stats.map(_.batchRows).sum
      println(f"replayed ${r.epochs} epochs, $rows events in $sec%.1f s (${rows / sec}%.0f events/s)")
    case "roundtrip-bench" :: n :: Nil =>
      // distributed encode stage -> decode stage, no disk: codec throughput
      import spark.implicits._
      val reg = spark.sparkContext.broadcast(Cdc.registry)
      val rows = spark.range(0, n.toLong)
        .map(i => LogGen.rawChange(i, LogGen.Params(nEvents = n.toLong))).toDF()
      val t0 = System.nanoTime()
      val events = graft.decode.Encode.encode(rows, reg, Cdc.KeyV2, Cdc.MessageType)
        .map(b => graft.decode.ChangeEvent(b, Cdc.SchemaId, 2, Cdc.MessageType, 0, 0L))
      val ok = graft.decode.Decode.success(graft.decode.Decode.decode(
        events, reg, graft.registry.SchemaKey(Cdc.SchemaId, 2), Cdc.MessageType))
        .filter(col("repo").isNotNull).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"round-tripped $ok of $n messages (encode+decode) in $sec%.1f s (${ok / sec}%.0f msgs/s)")
      if (ok != n.toLong) sys.exit(1)
    case "decode-bench" :: logDir :: Nil =>
      import spark.implicits._
      val registry = spark.sparkContext.broadcast(Cdc.registry)
      val ev = spark.read.parquet(logDir)
        .transform(Epoch.events)
      val t0 = System.nanoTime()
      val n = graft.decode.Decode.decode(ev, registry,
        graft.registry.SchemaKey(Cdc.SchemaId, -1), Cdc.MessageType)
        .filter(col("route") === "success").count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"decoded $n events in $sec%.1f s (${n / sec}%.0f events/s)")
    case "decode-bench-pruned" :: logDir :: Nil =>
      // pruned vs full SCALAR decode on the same log: the projection-
      // pushdown payoff (q102) as a measured number — the pruned plan
      // length-skips `content` (most of the payload bytes) on the wire
      graft.functions.PruneProtoDecode.install(spark)
      val raw = spark.read.parquet(logDir).select("payload").localCheckpoint()
      def m = graft.functions.ProtoFunctions.proto_decode(
        col("payload"), Cdc.protoV2, "RepoChange").as("m")
      def time(cols: Seq[String]): Double = {
        val df = raw.select(m).select(cols.map(c => col(s"m.$c")): _*)
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val all = Cdc.fsV2.findMessage("RepoChange").get.fieldsInNumberOrder.map(_.name)
      val few = Seq("repo", "path", "seq")
      // warm BOTH plan shapes (JIT + codegen), then interleave best-of-2 —
      // a one-sided warmup or fixed ordering would bias the speedup
      time(all); time(few)
      val full = math.min(time(all), time(all))
      val pruned = math.min(time(few), time(few))
      val n = raw.count()
      println(f"full-decode $n events in $full%.2f s (${n / full}%.0f ev/s); " +
        f"pruned (repo,path,seq) $pruned%.2f s (${n / pruned}%.0f ev/s); " +
        f"speedup ${full / pruned}%.2fx")
    case "read-bench" :: logDir :: Nil =>
      val t0 = System.nanoTime()
      val n = spark.read.parquet(logDir).select("payload").count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"read $n payloads in $sec%.1f s (${n / sec}%.0f rows/s)")
    case "show" :: tableDir :: rest =>
      // optional: `show <dir> [n] [--at <version>]` — time travel to any
      // retained snapshot (IceLite keeps history until expire+vacuum)
      val (atVersion, positional) = rest.indexOf("--at") match {
        case -1 => (None, rest)
        case i if i + 1 < rest.length =>
          (Some(rest(i + 1).toInt), rest.patch(i, Nil, 2))
        case _ =>
          System.err.println("usage: show <dir> [n] [--at <version>]"); sys.exit(2)
      }
      val snap = atVersion match {
        case Some(v) => IceLite.loadVersion(tableDir, v)
        case None => IceLite.load(tableDir)
      }
      val n = positional.headOption.map(_.toInt).getOrElse(10)
      val deltas = snap.files.count(_.delta)
      println(s"table $tableDir v${snap.version}, epochs=${snap.ledger.count} " +
        s"(namespaces=${snap.ledger.namespaces.toSeq.sorted.mkString("/")}), " +
        s"files=${snap.files.size} (${deltas} delta / ${snap.files.size - deltas} base) " +
        s"in ${snap.manifests.size} manifests, " +
        s"maxSeq=${snap.maxSeq}, schema=${snap.currentSchema.map(c => s"${c.name}#${c.id}").mkString(",")}")
      val df = IceLite.read(spark, snap)
      println(s"rows=${df.count()}")
      df.orderBy("repo", "path").show(n, truncate = 40)
    case "get" :: tableDir :: repo :: path :: Nil =>
      val snap = IceLite.load(tableDir)
      val row = IceLite.lookup(spark, snap, Map("repo" -> repo, "path" -> path))
      row.show(5, truncate = 60)
      println(s"found ${row.count()} row(s)")
    case "compact" :: tableDir :: rest =>
      // `compact <dir> [epochId] [buckets] [--cluster <col> | --zorder c1,c2]`
      // — --cluster sorts buckets by one column, --zorder interleaves 2+
      // numeric columns; both split into range-contiguous files whose
      // bounds feed readRange/readRangeMulti's file skipping
      def takeFlag(args: List[String], flag: String): (Option[String], List[String]) =
        args.indexOf(flag) match {
          case -1 => (None, args)
          case i if i + 1 < args.length => (Some(args(i + 1)), args.patch(i, Nil, 2))
          case _ =>
            System.err.println(s"usage: compact <dir> [epochId] [buckets] [--cluster <col> | --zorder c1,c2]")
            sys.exit(2)
        }
      val (cluster, rest1) = takeFlag(rest, "--cluster")
      val (zorder, positional) = takeFlag(rest1, "--zorder")
      val epochId = positional.headOption.getOrElse(s"compact-${System.nanoTime()}")
      // optional 2nd arg: comma-separated bucket subset for incremental
      // maintenance that doesn't conflict with live merges on other buckets
      val buckets = positional.drop(1).headOption.map(_.split(',').map(_.toInt).toSet)
      val st = graft.lake.Compaction.compact(spark, tableDir, epochId, buckets, cluster,
        zorderBy = zorder.map(_.split(',').toSeq).getOrElse(Nil))
      println(s"compacted ${st.buckets} buckets" +
        cluster.map(c => s" (clustered by $c)").getOrElse("") +
        zorder.map(z => s" (z-ordered by $z)").getOrElse("") +
        s": rows=${st.rowsAfter}, files replaced=${st.filesReplaced}")
    case "rebucket" :: tableDir :: nb :: rest =>
      val epochId = rest.headOption.getOrElse(s"rebucket-${System.nanoTime()}")
      val st = graft.lake.Compaction.rebucket(spark, tableDir, nb.toInt, epochId)
      println(s"rebucketed to ${st.buckets} buckets: rows=${st.rowsAfter}, files replaced=${st.filesReplaced}")
    case "drop-column" :: tableDir :: colName :: rest =>
      // schema-only DDL: retires the field id (a later batch from an older
      // writer descriptor cannot resurrect the column)
      val epochId = rest.headOption.getOrElse(s"ddl-${System.nanoTime()}")
      val snap = IceLite.dropColumn(tableDir, epochId, colName)
      println(s"dropped $colName (field id retired: ${snap.retiredIds.toSeq.sorted.mkString(",")}); " +
        s"table at v${snap.version}, schema v${snap.currentSchemaVersion}")
    case "add-column" :: tableDir :: colName :: dataType :: fieldId :: rest =>
      // schema-only DDL: metadata add with an optional WRITE default —
      // old files read it, later default-lacking batches are filled with it
      val default = rest.headOption
      val epochId = rest.drop(1).headOption.getOrElse(s"ddl-${System.nanoTime()}")
      val snap = IceLite.addColumn(tableDir, epochId, colName, dataType,
        fieldId.toInt, default)
      println(s"added $colName $dataType (field id $fieldId" +
        default.map(d => s", default '$d'").getOrElse("") +
        s"); table at v${snap.version}, schema v${snap.currentSchemaVersion}")
    case "rename-column" :: tableDir :: from :: to :: rest =>
      // schema-only DDL: metadata rename, no file rewrite (reads resolve by
      // field id); the id is PINNED so older writer descriptors cannot
      // rename it back — their values still land (id-matched batch columns)
      val epochId = rest.headOption.getOrElse(s"ddl-${System.nanoTime()}")
      val snap = IceLite.renameColumn(tableDir, epochId, from, to)
      println(s"renamed $from -> $to (field id pinned: ${snap.pinnedIds.toSeq.sorted.mkString(",")}); " +
        s"table at v${snap.version}, schema v${snap.currentSchemaVersion}")
    case "create-index" :: tableDir :: colName :: rest =>
      // secondary bloom index: per-bucket value blooms, backfilled now and
      // kept fresh by every later commit; readWhere prunes whole buckets
      val epochId = rest.headOption.getOrElse(s"idx-${System.nanoTime()}")
      val snap = IceLite.addBloomIndex(spark, tableDir, epochId, colName)
      println(s"indexed $colName (indexed cols: ${snap.indexedCols.toSeq.sorted.mkString(",")}); " +
        s"table at v${snap.version}")
    case "mv-create" :: srcDir :: mvDir :: groupCols :: rest =>
      // incremental materialized view: `mv-create <src> <mv> lang,author
      // [sum_name=expr ... --min name=expr ... --max name=expr ...]` —
      // grouped count(*) plus integral sums and optional min/max columns
      // (non-self-maintainable: threatened extrema recompute from the
      // head, group-pruned), maintained from the change feed by mv-refresh
      def kv(a: String, what: String): (String, String) = {
        val i = a.indexOf('=')
        require(i > 0, s"$what must be name=expr, got $a")
        (a.substring(0, i), a.substring(i + 1))
      }
      var sums = Vector.empty[(String, String)]
      var mins = Vector.empty[(String, String)]
      var maxs = Vector.empty[(String, String)]
      var args2 = rest
      while (args2.nonEmpty) args2 = args2 match {
        case "--min" :: a :: t => mins :+= kv(a, "--min"); t
        case "--max" :: a :: t => maxs :+= kv(a, "--max"); t
        case a :: t => sums :+= kv(a, "sum"); t
        case Nil => Nil
      }
      val spec = graft.lake.MatView.Spec(groupCols.split(',').toVector, sums, mins, maxs)
      graft.lake.MatView.create(srcDir, mvDir, spec)
      println(s"created view at $mvDir: GROUP BY ${spec.groupCols.mkString(",")} " +
        s"with cnt${spec.sums.map { case (o, e) => s", $o=sum($e)" }.mkString}" +
        s"${spec.mins.map { case (o, e) => s", $o=min($e)" }.mkString}" +
        s"${spec.maxs.map { case (o, e) => s", $o=max($e)" }.mkString}")
    case "mv-refresh" :: srcDir :: mvDir :: Nil =>
      val st = graft.lake.MatView.refresh(spark, srcDir, mvDir)
      println(if (st.applied)
        s"refreshed v${st.fromVersion} -> v${st.toVersion}: " +
          s"${st.changedKeys} changed keys, ${st.touchedGroups} groups touched"
      else s"up to date at v${st.toVersion} (nothing to apply)")
    case "meta" :: tableDir :: kind :: Nil =>
      // inspection tables: meta <dir> files|history|manifests|epochs
      val df = kind match {
        case "files" => graft.lake.MetaTables.files(spark, tableDir)
        case "history" => graft.lake.MetaTables.history(spark, tableDir)
        case "manifests" => graft.lake.MetaTables.manifests(spark, tableDir)
        case "epochs" => graft.lake.MetaTables.epochs(spark, tableDir)
        case other =>
          System.err.println(s"unknown meta table: $other"); sys.exit(2)
      }
      df.show(50, truncate = 60)
    case "clone" :: srcDir :: targetDir :: rest =>
      // shallow clone: zero-copy hard-linked fork of a snapshot; the clone
      // is a full table (replay/merge/purge all work) with the source's
      // epoch ledger carried for fence-safe catch-up. Purge does NOT cross
      // the fork — erase each fork as the table it is.
      val version = rest.headOption.map(_.toInt)
      val snap = IceLite.cloneTable(srcDir, targetDir, version)
      println(s"cloned ${version.map(v => s"v$v").getOrElse("head")} of $srcDir " +
        s"-> $targetDir (${snap.files.size} files hard-linked, 0 bytes copied)")
    case "rollback" :: tableDir :: toV :: Nil =>
      // restore an earlier snapshot as a NEW head version (history kept);
      // the epoch ledger restores too, so the undone epochs can re-apply
      val snap = IceLite.rollback(tableDir, toV.toInt)
      println(s"rolled back to v$toV state as v${snap.version}")
    case "branch-fork" :: tableDir :: name :: Nil =>
      // write-audit-publish: fork the head; the branch dir IS a table dir
      // (replay/merge/show/verify all work on it), main stays frozen
      val bdir = graft.lake.Branch.fork(tableDir, name)
      println(s"forked $name at v${graft.lake.Branch.forkVersion(tableDir, name)}: $bdir")
    case "branch-publish" :: tableDir :: name :: Nil =>
      val n = graft.lake.Branch.publish(tableDir, name)
      println(s"published $n version(s) from $name; main at v${IceLite.load(tableDir).version}")
    case "branch-discard" :: tableDir :: name :: rest =>
      val force = rest.contains("--force")
      graft.lake.Branch.discard(tableDir, name, force)
      println(s"discarded $name${if (force) " (forced)" else ""}")
    case "vacuum" :: tableDir :: rest =>
      val keep = rest.headOption.map(_.toInt).getOrElse(1)
      val expired = graft.lake.Compaction.expire(tableDir, keep)
      val removed = graft.lake.Compaction.vacuum(tableDir)
      println(s"expired $expired snapshots (kept last $keep), removed $removed unreferenced data/manifest files")
    case "changes" :: tableDir :: fromV :: toV :: Nil =>
      // incremental change feed between two snapshot versions (CDC out)
      val df = IceLite.changes(spark, tableDir, fromV.toInt, toV.toInt)
      df.orderBy("__seq").show(50, truncate = 40)
      println(s"changes v$fromV -> v$toV: ${df.count()} rows (incl. tombstones)")
    case "changes-between" :: tableDir :: fromTs :: toTs :: Nil =>
      // the same feed on the wall-clock axis (cuts resolved like show-asof)
      val df = IceLite.changesBetween(spark, tableDir, fromTs.toLong, toTs.toLong)
      df.orderBy("__seq").show(50, truncate = 40)
      println(s"changes $fromTs -> $toTs: ${df.count()} rows (incl. tombstones)")
    case "expire-before" :: tableDir :: tsMs :: rest =>
      val keep = rest.headOption.map(_.toInt).getOrElse(1)
      val n = graft.lake.Compaction.expireOlderThan(tableDir, tsMs.toLong, keep)
      println(s"expired $n snapshot(s) committed before $tsMs (kept last $keep + tags)")
    case "merge-into" :: tableDir :: srcParquet :: epochId :: rest =>
      // MERGE INTO <table> USING parquet_source — flags:
      //   --matched-delete <pred>   WHEN MATCHED AND pred THEN DELETE
      //   --set <col=expr>          WHEN MATCHED THEN UPDATE SET (repeatable;
      //                             none = SET * from source-carried columns)
      //   --by-source <pred>        WHEN NOT MATCHED BY SOURCE AND pred DELETE
      //   --no-insert               drop the WHEN NOT MATCHED INSERT clause
      var matchedDel: Option[String] = None
      var bySource: Option[String] = None
      var sets = Vector.empty[(String, String)]
      var insert = true
      var it = rest
      while (it.nonEmpty) it = it match {
        case "--matched-delete" :: p :: t => matchedDel = Some(p); t
        case "--by-source" :: p :: t => bySource = Some(p); t
        case "--set" :: kv :: t =>
          val Array(c, e) = kv.split("=", 2)
          sets :+= (c -> e); t
        case "--no-insert" :: t => insert = false; t
        case other :: _ => sys.error(s"unknown merge-into flag: $other")
        case Nil => Nil
      }
      val st = graft.lake.Dml.mergeInto(spark, tableDir,
        spark.read.parquet(srcParquet), matchedDel, sets, insert, epochId,
        bySource)
      println(if (st.merge.applied)
        s"merged: updated=${st.updated} deleted=${st.deleted} " +
          s"inserted=${st.inserted} deleted_by_source=${st.deletedBySource}"
      else s"epoch $epochId already applied (fenced no-op)")
    case "scd2-create" :: srcDir :: scdDir :: rest =>
      graft.lake.Scd2.create(srcDir, scdDir, rest.headOption.map(_.toInt).getOrElse(8))
      println(s"created SCD2 dimension at $scdDir over $srcDir")
    case "scd2-apply" :: srcDir :: scdDir :: Nil =>
      val st = graft.lake.Scd2.apply(spark, srcDir, scdDir)
      println(if (st.applied)
        s"applied v${st.fromVersion} -> v${st.toVersion}: ${st.changedKeys} keys, " +
          s"${st.closed} intervals closed, ${st.opened} opened, ${st.deleted} deleted"
      else s"up to date at v${st.toVersion} (nothing to apply)")
    case "scd2-compact" :: scdDir :: Nil =>
      val n = graft.lake.Scd2.compactHistory(spark, scdDir)
      println(if (n > 0) s"folded $n history batch dirs" else "nothing to fold")
    case "scd2-asof" :: scdDir :: seq :: rest =>
      graft.lake.Scd2.asOf(spark, scdDir, seq.toLong)
        .show(rest.headOption.map(_.toInt).getOrElse(50), truncate = 40)
    case "cdf" :: tableDir :: fromV :: toV :: Nil =>
      // change feed with row images (insert/update_preimage/update_postimage/delete)
      val df = graft.lake.Cdf.changesWithImages(spark, tableDir, fromV.toInt, toV.toInt)
      df.orderBy("seq", "change_type").show(50, truncate = 40)
      println(s"images v$fromV -> v$toV: ${df.count()} rows")
    case "retry-deadletters" :: tableDir :: rest =>
      val tag = rest.headOption.getOrElse("retry-1")
      val reg = spark.sparkContext.broadcast(Cdc.registry)
      val st = Replay.retryDeadLetters(spark, tableDir, reg, tag)
      println(s"retried ${st.attempted}: merged ${st.merged}" +
        s"${if (!st.applied) " (epoch fenced — already applied)" else ""}, " +
        s"${st.remaining} still failing")
    // ingest expectations (q184-q187): rules are trailing name=predicate
    // args, e.g. lang_allowed="lang IN ('scala','go')"; guard is a max
    // violating-UPSERT fraction per epoch, or '-' for none
    case "replay-expect" :: logDir :: tableDir :: buckets :: guard :: rest =>
      val rules = rest.map(parseRule)
      val g = if (guard == "-") None else Some(guard.toDouble)
      val st = Expectations.replayWithExpectations(spark, logDir, tableDir,
        rules, buckets.toInt, maxViolationFraction = g)
      val q = Breaker.quarantined(tableDir)
      println(s"replayed ${st.epochs} epochs: ${st.violations} expectation dead letters" +
        (if (q.nonEmpty) s"; QUARANTINED epochs ${q.mkString(",")}" else ""))
    case "retry-expect" :: tableDir :: tag :: rest =>
      val st = Expectations.retryExpectations(spark, tableDir, rest.map(parseRule), tag)
      println(s"re-evaluated ${st.attempted}: merged ${st.merged}, " +
        s"${st.remaining} still violating")
    case "release-expect" :: logDir :: tableDir :: epoch :: rest =>
      val st = Expectations.releaseQuarantined(spark, logDir, tableDir,
        epoch.toLong, rest.map(parseRule))
      println(s"released epoch $epoch: ${st.violations} rows dead-lettered under current rules")
    case "quarantined" :: tableDir :: Nil =>
      Breaker.quarantined(tableDir) match {
        case Seq() => println("no quarantined epochs")
        case q => q.foreach { e =>
          println(new String(java.nio.file.Files.readAllBytes(
            Breaker.marker(tableDir, e)), "UTF-8"))
        }
      }
    case "replicate" :: srcDir :: replicaDir :: rest =>
      // catch the replica up to the source head (fenced per version; the
      // replica's own ledger is the watermark — safe to run from cron)
      val n = Replay.replicate(spark, srcDir, replicaDir,
        rest.headOption.map(_.toInt).getOrElse(32))
      println(if (n > 0) s"shipped $n source version(s) to $replicaDir"
        else "replica already at the source head")
    case "bootstrap" :: snapshotDir :: tableDir :: rest =>
      // snapshot rows (data cols + seq) bulk-load as one fenced epoch
      val st = Replay.bootstrap(spark, spark.read.parquet(snapshotDir), "seq",
        tableDir, rest.headOption.map(_.toInt).getOrElse(32))
      println(if (st.applied) s"bootstrapped ${st.batchRows} rows into $tableDir"
        else "bootstrap epoch already applied (fenced)")
    case "bootstrap-chunk" :: srcDir :: replicaDir :: lo :: hi :: chunkId :: rest =>
      // one DBLog-style chunk: copy the source's CURRENT rows in buckets
      // [lo, hi] at original sequences; interleave with `replicate` calls
      val (v, st) = Replay.bootstrapChunk(spark, srcDir, replicaDir,
        (lo.toInt to hi.toInt).toSet, chunkId.toInt,
        rest.headOption.map(_.toInt).getOrElse(32))
      println(if (st.applied)
        s"chunk ${chunkId.toInt} (buckets $lo-$hi) copied at source v$v: ${st.batchRows} rows"
        else s"chunk ${chunkId.toInt} already applied (fenced)")
    case "compact-log" :: logDir :: outDir :: Nil =>
      val st = LogCompact.compactLog(spark, logDir, outDir)
      println(s"compacted $logDir -> $outDir: ${st.eventsIn} -> ${st.eventsOut} events " +
        s"(${st.tombstonesKept} tombstones, ${st.undecodableKept} undecodable kept)")
    case "purge-key" :: tableDir :: repo :: path :: Nil =>
      val st = graft.lake.Purge.purgeKey(spark, tableDir,
        Map("repo" -> repo, "path" -> path))
      println(s"purged ($repo, $path): ${st.rowsPurged} rows from ${st.filesRewritten} files " +
        s"(candidates ${st.filesCandidates}/${st.filesTotal}, ${st.versions} versions)")
    case "hold" :: tableDir :: holdId :: repo :: path :: rest =>
      val reason = if (rest.nonEmpty) rest.mkString(" ") else "unspecified"
      graft.lake.LegalHold.place(tableDir, holdId,
        Map("repo" -> repo, "path" -> path), reason)
      println(s"hold $holdId placed on ($repo, $path): $reason")
    case "release-hold" :: tableDir :: holdId :: Nil =>
      val existed = graft.lake.LegalHold.release(tableDir, holdId)
      println(if (existed) s"hold $holdId released" else s"no such hold: $holdId")
      if (!existed) sys.exit(1)
    case "holds" :: tableDir :: Nil =>
      val hs = graft.lake.LegalHold.active(tableDir)
      println(s"${hs.size} active hold(s)")
      hs.foreach(h => println(s"  ${h.id}: ${h.key} — ${h.reason}"))
    case "purge-batch" :: tableDir :: keyPairs if keyPairs.nonEmpty && keyPairs.size % 2 == 0 =>
      // erasure-ticket batch with hold enforcement: repo path [repo path ...]
      val keys = keyPairs.grouped(2).map { case Seq(r, p) =>
        Map[String, Any]("repo" -> r, "path" -> p) }.toSeq
      val (st, refused) = graft.lake.LegalHold.guardedPurge(spark, tableDir, keys)
      println(s"purged ${keys.size - refused.size}/${keys.size} keys: " +
        s"${st.rowsPurged} rows from ${st.filesRewritten} files")
      refused.foreach(k => println(s"  REFUSED (legal hold): $k"))
    case "scrub" :: tableDir :: Nil =>
      val n = graft.lake.Scrub.record(spark, tableDir)
      val bad = graft.lake.Scrub.verify(spark, tableDir)
      println(s"recorded $n new checksums; ${bad.size} corrupt file(s)")
      bad.foreach(p => println(s"  CORRUPT $p"))
      if (bad.nonEmpty) sys.exit(1)
    case "repair-bucket" :: tableDir :: logDir :: bucket :: rest =>
      graft.lake.Scrub.repairBucket(spark, tableDir, logDir, bucket.toInt,
        rest.headOption.getOrElse(s"repair-$bucket"))
      println(s"repaired bucket $bucket of $tableDir from $logDir")
    case "txn-apply" :: logDir :: txnDir :: tableA :: tableB :: rest =>
      val st = Txn.applyLog(spark, logDir, txnDir, Seq(tableA, tableB),
        rest.headOption.map(_.toInt).getOrElse(32))
      st.foreach(t => println(s"epoch ${t.epoch}: " +
        (if (t.perTable.isEmpty) "fenced" else t.perTable.map(_.applied).mkString(","))))
    case "txn-recover" :: logDir :: txnDir :: tableA :: tableB :: rest =>
      val st = Txn.recover(spark, logDir, txnDir, Seq(tableA, tableB),
        rest.headOption.map(_.toInt).getOrElse(32))
      println(s"recovered ${st.length} pending epoch(s): ${st.map(_.epoch).mkString(",")}")
    case "tag" :: tableDir :: name :: rest =>
      val v = rest.headOption.map(_.toInt).getOrElse(IceLite.load(tableDir).version)
      IceLite.tag(tableDir, name, v)
      println(s"tagged $tableDir v$v as '$name'")
    case "remove-tag" :: tableDir :: name :: Nil =>
      println(if (IceLite.removeTag(tableDir, name)) s"removed tag '$name'"
        else s"no tag '$name'")
    case "tags" :: tableDir :: Nil =>
      IceLite.tags(tableDir).toSeq.sortBy(_._1)
        .foreach { case (n, v) => println(s"$n -> v$v") }
    case "show-tag" :: tableDir :: name :: Nil =>
      IceLite.read(spark, IceLite.loadTag(tableDir, name)).show(50, truncate = false)
    case "show-asof" :: tableDir :: tsMs :: Nil =>
      val snap = IceLite.loadAsOf(tableDir, tsMs.toLong)
      println(s"resolved v${snap.version} (committed ${snap.committedAtMs})")
      IceLite.read(spark, snap).show(50, truncate = false)
    case "stats" :: tableDir :: rest =>
      val snap = IceLite.load(tableDir)
      println(s"live rows: ${graft.lake.MetaAgg.liveCount(snap)
        .map(_.toString).getOrElse("unknown (delta files or legacy manifests — compact first)")}")
      graft.lake.MetaAgg.bucketLiveRows(snap).foreach { m =>
        val hot = m.toSeq.sortBy(-_._2).take(5)
        println(s"hottest buckets: ${hot.map { case (b, n) => s"$b=$n" }.mkString(", ")}")
      }
      rest.foreach { c =>
        println(s"min/max($c): ${graft.lake.MetaAgg.minMax(snap, c)
          .map { case (lo, hi) => s"[$lo, $hi]" }.getOrElse("unknown")}")
      }
    case "export" :: tableDir :: name :: Nil =>
      val info = graft.lake.Export.exportSnapshot(tableDir, name)
      println(s"${if (info.created) "exported" else "already exported"} v${info.sourceVersion} " +
        s"-> ${info.dir} (${info.files} files, ${info.rows} rows, filter: ${info.rowFilter})")
    case "log-truncate" :: logDir :: consumers if consumers.nonEmpty =>
      val st = LogGc.truncate(logDir, consumers.map(LogGc.Consumer(_)))
      println(s"safe point ${st.safePoint}: removed epochs ${st.removedEpochs.mkString(",")} " +
        s"(${st.removedFiles} files)")
    case "verify" :: logDir :: tableDir :: Nil =>
      val got = IceLite.read(spark, IceLite.load(tableDir))
        .select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
      val want = Replay.oracleFold(spark, logDir)
        .select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      println(s"replay-equality: table=${got.count()} oracle=${want.count()} extra=$extra missing=$missing " +
        (if (extra == 0 && missing == 0) "OK (sha256 per (repo,path) equal)" else "MISMATCH"))
      if (extra != 0 || missing != 0) sys.exit(1)
    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      sys.exit(2)
  }

  /** `name=predicate` → Rule (the predicate may itself contain '='). */
  private def parseRule(s: String): Expectations.Rule = s.indexOf('=') match {
    case i if i > 0 => Expectations.Rule(s.take(i), s.drop(i + 1))
    case _ => sys.error(s"rule must be name=predicate: $s")
  }
}
