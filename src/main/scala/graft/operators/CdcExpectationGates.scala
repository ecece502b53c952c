package graft.operators

import org.apache.spark.sql.functions._
import graft.cdc.{Cdc, LogGen}
import Gate.workDir

/** Ingest-expectation gates: row-level CHECK rules routed to the dead-letter
  * store, their retry, the streaming path and the epoch guard. */
private[operators] object CdcExpectationGates {

  val queries: Seq[OpQuery] = Seq(
    // INGEST EXPECTATIONS (q184): declarative row-level CHECK rules routed
    // like the reference's taxonomy — decodable-but-contract-violating
    // events dead-letter with route='expectation', per-rule attribution,
    // and the ORIGINAL payload (the retryable contract, like q49/q80).
    // Two rules: lang must be allowlisted (md files violate) and content
    // must be ≤ 800 chars (long generated docs violate) — both with
    // natural violations in the seeded corpus. The final state must equal
    // the LWW fold over CONFORMING events only: a key whose newest version
    // violates must fall back to its last conforming version — the
    // property a post-hoc filter on the table cannot express. The fn
    // hard-asserts the dead-letter count ≡ an independent recount, every
    // dead letter's payload/attribution, and that a re-run fences (no
    // duplicate dead letters, no re-merge).
    OpQuery("q184_ingest_expectations",
      (s, _) => {
        val g = Gate(s, "q184")
        g.genLog(3000, epochs = 2)
        g.dumpDecoded(offsets = true)
        val rules = Seq(
          graft.cdc.Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go')"),
          graft.cdc.Expectations.Rule("content_max_len", "length(content) <= 800"))
        val st = graft.cdc.Expectations.replayWithExpectations(s, g.log, g.table, rules, buckets = 8)
        // independent recount from the clean dump with the same predicate
        val dump = s.read.parquet(g.decoded)
        val expViol = dump.filter(col("op") === "UPSERT" &&
          !(col("lang").isin("scala", "java", "py", "rs", "go") &&
            length(col("content")) <= 800)).count()
        require(expViol > 0, "fixture must contain natural violations")
        require(st.violations == expViol,
          s"expected $expViol expectation dead letters, got ${st.violations}")
        val dl = s.read.parquet(s"${g.table}/_deadletter")
          .filter(col("route") === graft.cdc.Expectations.Route)
        require(dl.count() == expViol, "dead-letter store count mismatch")
        require(dl.filter(length(col("payload")) > 1).count() == expViol,
          "expectation dead letters must keep the ORIGINAL payload")
        require(dl.filter(col("error") === "").count() == 0,
          "every expectation dead letter names its failed rule(s)")
        // re-run: epochs fence, dead letters must not duplicate
        val st2 = graft.cdc.Expectations.replayWithExpectations(s, g.log, g.table, rules, buckets = 8)
        require(st2.violations == 0, "replay must fence expectation flushes")
        require(s.read.parquet(s"${g.table}/_deadletter")
          .filter(col("route") === graft.cdc.Expectations.Route).count() == expViol,
          "re-run duplicated dead letters")
        g.finalState()
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q184")}/decoded/*.parquet')
              WHERE NOT (op = 'UPSERT' AND NOT (lang IN ('scala','java','py','rs','go')
                                                AND length(content) <= 800))) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // EXPECTATION RETRY AFTER RULE RELAXATION (q185): q184's dead letters
    // are not a dead end — the store keeps each violating event's ORIGINAL
    // payload, so when the contract is re-cut (here: 'md' joins the lang
    // allowlist) the kept originals re-evaluate under the NEW rules:
    // now-conforming events merge at their TRUE sequence (a retried newer
    // version beats the conforming fallback that held the key meanwhile —
    // the LWW late-retry property q184's post-hoc-filter strawman cannot
    // express), still-violating events stay with attribution REFRESHED to
    // the rules they fail NOW. The fn hard-asserts retry counts against
    // independent recounts from the clean dump, the remaining store
    // content, and that a re-retry under the same rules merges nothing.
    // Final state ≡ the fold over events conforming to the RELAXED rules.
    OpQuery("q185_expectation_retry",
      (s, _) => {
        val g = Gate(s, "q185")
        g.genLog(3000, epochs = 2)
        g.dumpDecoded(offsets = true)
        val strict = Seq(
          graft.cdc.Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go')"),
          graft.cdc.Expectations.Rule("content_max_len", "length(content) <= 800"))
        val relaxed = Seq(
          graft.cdc.Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go','md')"),
          graft.cdc.Expectations.Rule("content_max_len", "length(content) <= 800"))
        val st = graft.cdc.Expectations.replayWithExpectations(s, g.log, g.table, strict, buckets = 8)
        // independent recounts from the clean dump
        val dump = s.read.parquet(g.decoded)
        val strictViol = dump.filter(col("op") === "UPSERT" &&
          !(col("lang").isin("scala", "java", "py", "rs", "go") &&
            length(col("content")) <= 800)).count()
        val relaxedViol = dump.filter(col("op") === "UPSERT" &&
          !length(col("content")).leq(800)).count()
        require(st.violations == strictViol, "strict replay violation miscount")
        require(relaxedViol > 0 && strictViol > relaxedViol,
          "fixture must have both lang-only and length violations")
        val er = graft.cdc.Expectations.retryExpectations(s, g.table, relaxed, "relax-1")
        require(er.attempted == strictViol && er.applied,
          s"retry must re-evaluate every expectation dead letter: $er")
        require(er.remaining == relaxedViol, s"still-violating miscount: $er")
        require(er.merged == strictViol - relaxedViol,
          s"now-conforming rows must merge at true seq: $er")
        val dl = s.read.parquet(s"${g.table}/_deadletter")
        require(dl.count() == relaxedViol &&
          dl.filter(col("route") === graft.cdc.Expectations.Route &&
            col("error") === "content_max_len").count() == relaxedViol,
          "store must hold ONLY still-violating rows, attribution refreshed")
        // a re-retry under the same rules merges nothing and keeps the store
        val er2 = graft.cdc.Expectations.retryExpectations(s, g.table, relaxed, "relax-2")
        require(er2.attempted == relaxedViol && er2.merged == 0 &&
          er2.remaining == relaxedViol, s"re-retry must be a no-op: $er2")
        require(s.read.parquet(s"${g.table}/_deadletter").count() == relaxedViol,
          "re-retry changed the store")
        g.finalState()
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q185")}/decoded/*.parquet')
              WHERE NOT (op = 'UPSERT' AND NOT (lang IN ('scala','java','py','rs','go','md')
                                                AND length(content) <= 800))) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // STREAMING EXPECTATIONS (q186): the q184 ingest contract enforced on
    // the Structured-Streaming Tail path — per micro-batch, violating
    // UPSERTs dead-letter with route='expectation' (original payload,
    // per-rule attribution) and only conforming events reach the MERGE,
    // under the stream's exactly-once fencing. The corpus arrives in two
    // waves; the second Tail resumes from the first's checkpoint. The fn
    // hard-asserts the dead-letter count against an independent recount
    // from the clean dump, uniqueness across the resume (no event
    // dead-letters twice), and payload/attribution presence. Final state
    // ≡ the LWW fold over CONFORMING events only — batch (q184) and
    // stream enforce the identical contract, hash-checked against the
    // same oracle shape.
    OpQuery("q186_tail_expectations",
      (s, _) => {
        val g = Gate(s, "q186")
        val streamDir = s"${g.root}/stream"
        val ckpt = s"${g.root}/ckpt"
        val ev = LogGen.events(s, Gate.params(3000))
        g.dumpDecoded(ev, offsets = true)
        val rules = Seq(
          graft.cdc.Expectations.Rule("lang_allowed", "lang IN ('scala','java','py','rs','go')"),
          graft.cdc.Expectations.Rule("content_max_len", "length(content) <= 800"))
        // wave 1, then wave 2 resuming from the same checkpoint
        ev.filter(col("offset") < 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, g.table, ckpt, buckets = 8,
          rules = rules).awaitTermination()
        ev.filter(col("offset") >= 1500).repartition(3)
          .write.mode("append").parquet(streamDir)
        graft.cdc.Tail.start(s, streamDir, g.table, ckpt, buckets = 8,
          rules = rules).awaitTermination()
        val dump = s.read.parquet(g.decoded)
        val expViol = dump.filter(col("op") === "UPSERT" &&
          !(col("lang").isin("scala", "java", "py", "rs", "go") &&
            length(col("content")) <= 800)).count()
        require(expViol > 0, "fixture must contain natural violations")
        val dl = s.read.parquet(s"${g.table}/_deadletter")
          .filter(col("route") === graft.cdc.Expectations.Route)
        require(dl.count() == expViol,
          s"expected $expViol streaming expectation dead letters, got ${dl.count()}")
        require(dl.select("partition", "offset").distinct().count() == expViol,
          "an event dead-lettered twice across the checkpoint resume")
        require(dl.filter(length(col("payload")) > 1 && col("error") =!= "").count() == expViol,
          "dead letters must keep the ORIGINAL payload and name their rules")
        g.finalState()
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q186")}/decoded/*.parquet')
              WHERE NOT (op = 'UPSERT' AND NOT (lang IN ('scala','java','py','rs','go')
                                                AND length(content) <= 800))) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path""")),

    // EXPECTATION EPOCH GUARD (q187): the q165 poison-batch logic applied
    // to SEMANTIC badness. Epochs 0-1 are the organic corpus (violations
    // trickle → row-level dead letters); epoch 2 simulates a bad upstream
    // deploy — 90% of its events carry an unknown lang 'xx'. With
    // maxViolationFraction=0.5 the flooded epoch is refused WHOLE (no
    // merge, no dead-letter flood, a quarantine marker shared with the
    // Breaker), while healthy epochs apply normally. The operator verdict
    // is that 'xx' is a legitimate new language: releaseQuarantined
    // applies epoch 2 under corrected rules — 'xx' rows merge at true
    // seq, rows violating OTHER rules (length, 'md') dead-letter. Final
    // state ≡ the fold with strict rules below seq 3000 and corrected
    // rules above — the per-seq CASE the oracle folds exactly.
    OpQuery("q187_expectation_guard",
      (s, _) => {
        import s.implicits._
        val g = Gate(s, "q187")
        g.genLog(3000, epochs = 2)
        // epoch 2: the bad deploy — 90% of events carry lang 'xx'
        val flood = (3000L until 4000L).map { id =>
          val c0 = LogGen.rawChange(id, Gate.params(3000))
          val c = if (id % 10 != 0 && c0.op == "UPSERT") c0.copy(lang = "xx") else c0
          graft.decode.ChangeEvent(Gate.encode(c, 2)._2, Cdc.SchemaId, 2, Cdc.MessageType, 0, id)
        }
        flood.toDS().withColumn("epoch", lit(2L))
          .write.partitionBy("epoch").mode("append").parquet(g.log)
        g.dumpDecoded(offsets = true)
        val base = Seq("scala", "java", "py", "rs", "go")
        val strict = Seq(
          graft.cdc.Expectations.Rule("lang_allowed",
            s"lang IN (${base.map(l => s"'$l'").mkString(",")})"),
          graft.cdc.Expectations.Rule("content_max_len", "length(content) <= 800"))
        val corrected = Seq(
          graft.cdc.Expectations.Rule("lang_allowed",
            s"lang IN (${(base :+ "xx").map(l => s"'$l'").mkString(",")})"),
          graft.cdc.Expectations.Rule("content_max_len", "length(content) <= 800"))
        val st = graft.cdc.Expectations.replayWithExpectations(s, g.log, g.table,
          strict, buckets = 8, maxViolationFraction = Some(0.5))
        // independent recounts from the clean dump (seq == offset == id)
        val dump = s.read.parquet(g.decoded)
        def violOf(df: org.apache.spark.sql.DataFrame, langs: Seq[String]) =
          df.filter(col("op") === "UPSERT" &&
            !(col("lang").isin(langs: _*) && length(col("content")) <= 800)).count()
        val organicViol = violOf(dump.filter(col("seq") < 3000), base)
        val floodStrict = violOf(dump.filter(col("seq") >= 3000), base)
        val floodUpserts = dump.filter(col("seq") >= 3000 && col("op") === "UPSERT").count()
        require(floodStrict.toDouble > 0.5 * floodUpserts,
          "fixture: the flooded epoch must trip the 0.5 guard")
        require(st.violations == organicViol,
          s"only the organic trickle dead-letters: $st vs $organicViol")
        require(graft.cdc.Breaker.quarantined(g.table) == Seq(2L),
          "the flooded epoch must be quarantined")
        require(s.read.parquet(s"${g.table}/_deadletter").count() == organicViol,
          "a refused epoch must not flood the dead-letter store")
        // operator verdict: 'xx' is legitimate — release under corrected rules
        val floodStill = violOf(dump.filter(col("seq") >= 3000), base :+ "xx")
        val rel = graft.cdc.Expectations.releaseQuarantined(
          s, g.log, g.table, 2L, corrected)
        require(rel.violations == floodStill,
          s"release must dead-letter exactly the still-violating rows: $rel vs $floodStill")
        require(graft.cdc.Breaker.quarantined(g.table).isEmpty, "marker must clear")
        require(s.read.parquet(s"${g.table}/_deadletter").count() == organicViol + floodStill,
          "post-release store must hold organic + still-violating rows")
        g.finalState()
      },
      Some(s"""SELECT repo, path, "commit", lang, sha256(content) AS content_sha, author
        FROM (SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
              FROM parquet_scan('${workDir("q187")}/decoded/*.parquet')
              WHERE NOT (op = 'UPSERT' AND NOT (
                (CASE WHEN seq < 3000 THEN lang IN ('scala','java','py','rs','go')
                      ELSE lang IN ('scala','java','py','rs','go','xx') END)
                AND length(content) <= 800))) t
        WHERE rn = 1 AND op <> 'DELETE' ORDER BY repo, path"""))
  )
}
