package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Tables.ld

/** PII detection + redaction for a training-data pipeline: emails, IPv4
  * addresses, and long digit runs (card/account numbers) are counted and
  * replaced with typed placeholder tokens before text ships to training.
  *
  * The patterns are deliberately ASCII-anchored (`\d`, `\b` are ASCII in
  * both Java regex and RE2) so the Spark run and the DuckDB oracle compute
  * the same matches; redaction order is fixed (email → ip → num) because
  * later patterns run over the already-redacted text (an email's digits
  * must not be re-matched as an account number).
  *
  * Scale shape: a single narrow projection over the scan — per-row regex
  * work inside whole-stage codegen, no shuffle, no UDF. At 100 TB this
  * pass is bounded by scan bandwidth; counts ride the same pass as the
  * rewrite so detection metrics cost nothing extra. */
object PiiOps {

  val EmailRe = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
  val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  val NumRe = """\b\d{13,19}\b"""

  /** Adds per-type match counts (on the ORIGINAL text) and a `redacted`
    * column with all three classes replaced by placeholder tokens. Patterns
    * are passed through the column DSL, never an `expr()` SQL string — a
    * SQL-string pattern loses one backslash level to SQL unescaping. */
  def redact(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_email", regexp_count(t, lit(EmailRe)).cast("long"))
      .withColumn("n_ip", regexp_count(t, lit(Ipv4Re)).cast("long"))
      .withColumn("n_num", regexp_count(t, lit(NumRe)).cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "<EMAIL>"),
            Ipv4Re, "<IP>"),
          NumRe, "<NUM>"))
  }

  // the oracle-side copies of the same patterns (DuckDB string literals do
  // not process backslashes, so they land in RE2 exactly as written here)
  private val emailDuck = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
  private val ipDuck = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private val numDuck = """\b\d{13,19}\b"""

  val queries: Seq[OpQuery] = Seq(
    OpQuery("q93_pii_redaction",
      // the synthetic corpus carries no natural PII, so the gate INJECTS it
      // deterministically (both engines build the identical augmented text
      // from doc_id arithmetic): ~1/3 of docs get an email, 1/5 an IPv4,
      // 1/7 a 16-digit card — overlapping combinations included. The
      // oracle re-runs detection + the full redaction chain in RE2 and
      // compares counts, redacted-text sha256, and redacted length per doc.
      (s, d) => {
        val aug = ld(s, d, "documents").withColumn("aug", concat(
          col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" contact dev"), pmod(col("doc_id"), lit(97)).cast("string"),
              lit("@example.org"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" host 10."), pmod(col("doc_id"), lit(200)).cast("string"),
              lit("."), pmod(col("doc_id"), lit(250)).cast("string"),
              lit(".7"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit(" card 4111111111111111")).otherwise(lit(""))))
        redact(aug, "aug")
          .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_num"),
            sha2(col("redacted"), 256).as("redacted_sha"),
            length(col("redacted")).cast("long").as("redacted_len"))
          .orderBy("doc_id")
      },
      Some(s"""WITH a AS (
          SELECT doc_id, text
            || CASE WHEN doc_id % 3 = 0 THEN ' contact dev' || CAST(doc_id % 97 AS VARCHAR) || '@example.org' ELSE '' END
            || CASE WHEN doc_id % 5 = 0 THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) || '.7' ELSE '' END
            || CASE WHEN doc_id % 7 = 0 THEN ' card 4111111111111111' ELSE '' END AS aug
          FROM documents),
        r AS (
          SELECT doc_id, aug,
            regexp_replace(regexp_replace(regexp_replace(aug,
              '$emailDuck', '<EMAIL>', 'g'),
              '$ipDuck', '<IP>', 'g'),
              '$numDuck', '<NUM>', 'g') AS redacted
          FROM a)
        SELECT doc_id,
          len(regexp_extract_all(aug, '$emailDuck')) AS n_email,
          len(regexp_extract_all(aug, '$ipDuck')) AS n_ip,
          len(regexp_extract_all(aug, '$numDuck')) AS n_num,
          sha256(redacted) AS redacted_sha,
          length(redacted) AS redacted_len
        FROM r ORDER BY doc_id""")),

    OpQuery("q189_crypto_shred",
      // CRYPTO-SHREDDING under the hard gate — the O(1) erasure
      // counterpart to q85's physical purge (see graft.lake.CryptoShred):
      // every event's `props` is AES-GCM-encrypted under its USER's data
      // key at ingest; erasing users = deleting their keyring rows; the
      // data files are NEVER rewritten. The gate encrypts the corpus,
      // hard-asserts ciphertext holds no plaintext and that the full
      // keyring round-trips every byte, shreds users ≡ 3 (mod 17), and
      // returns the post-shred read — erased users MUST come back NULL,
      // everyone else verbatim. The oracle states the contract directly
      // over the plaintext table: crypto is implementation, the CASE
      // expression is the semantics.
      (s, d) => {
        import graft.lake.CryptoShred
        val clock = new CdcQueries.PhaseClock("q189")
        val root = Gate.workDir("q189")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        val ev = ld(s, d, "events")
          .select(col("event_id"), col("user_id"), col("props"))
        val ring = CryptoShred.keyring(s, master = "graft-r5-master",
          ev.select(col("user_id").as("principal")).distinct())
        clock("encrypt") {
          CryptoShred.encrypt(s, ev, ring, "event_id", "user_id", "props")
            .write.mode("overwrite").parquet(s"$root/enc")
        }
        val enc = s.read.parquet(s"$root/enc")
        // ciphertext must not leak plaintext: scan the raw bytes for the
        // one substring every props JSON carries (binary contains — no
        // UTF-8 decode, ciphertext is not valid text)
        require(enc.filter(
            expr("""contains(ct, CAST('"k"' AS BINARY))"""))
          .limit(1).count() == 0, "ciphertext leaked plaintext")
        clock("verify_roundtrip") {
          val full = CryptoShred.decrypt(s, enc, ring)
            .select(col("row_id").as("event_id"), col("value").as("rt"))
          require(full.join(ev, Seq("event_id"))
            .filter(col("rt").isNull || col("rt") =!= col("props"))
            .limit(1).count() == 0,
            "full-keyring decrypt must round-trip every row")
        }
        // THE ERASURE: one left-anti join over the tiny keyring — no data IO
        val shredded = clock("shred") {
          val r2 = CryptoShred.shred(ring,
            ring.filter(pmod(col("principal"), lit(17)) === 3))
          r2.write.mode("overwrite").parquet(s"$root/keyring-v1")
          s.read.parquet(s"$root/keyring-v1")
        }
        clock("read_post_shred") {
          CryptoShred.decrypt(s, enc, shredded)
            .select(col("row_id").as("event_id"),
              col("principal").as("user_id"), col("value").as("props_out"))
            .orderBy("event_id")
        }
      },
      Some("""SELECT event_id, user_id,
          CASE WHEN user_id % 17 = 3 THEN NULL ELSE props END AS props_out
        FROM events ORDER BY event_id""")),

    OpQuery("q195_k_anonymity",
      // K-ANONYMITY SUPPRESSION before a dataset ships: the quasi-identifier
      // tuple (lang, source, size bucket) must be shared by ≥ k documents,
      // or the tuple is SUPPRESSED (nulled) — the standard re-identification
      // guard (Sweeney's k-anonymity; k = 5 here) for the metadata columns
      // a public corpus release carries. Generalization first (n_chars →
      // 500-wide buckets), suppression only for groups the generalization
      // still leaves small.
      //
      // Scale shape: ONE shuffle on the quasi-identifier tuple (a window
      // count with no ordering = a per-group aggregate), then a narrow
      // projection. Group cardinality is bounded by the attribute domain,
      // not the corpus, so the aggregate state stays tiny at 100 TB.
      (s, d) => {
        val k = 5
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang", "source", "bucket")
        val out = ld(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"),
            expr("n_chars div 500").as("bucket"))
          .withColumn("grp_n", count(lit(1)).over(w))
          .select(col("doc_id"),
            (col("grp_n") < k).as("suppressed"),
            when(col("grp_n") >= k, col("lang")).as("lang_out"),
            when(col("grp_n") >= k, col("source")).as("source_out"),
            when(col("grp_n") >= k, col("bucket")).as("bucket_out"))
          .localCheckpoint()
        // vacuity guard: the fixture must exercise BOTH branches
        require(out.filter(col("suppressed")).limit(1).count() > 0 &&
          out.filter(!col("suppressed")).limit(1).count() > 0,
          "fixture must contain both suppressed and k-anonymous groups")
        out.orderBy("doc_id")
      },
      Some("""SELECT doc_id, grp_n < 5 AS suppressed,
          CASE WHEN grp_n >= 5 THEN lang END AS lang_out,
          CASE WHEN grp_n >= 5 THEN source END AS source_out,
          CASE WHEN grp_n >= 5 THEN bucket END AS bucket_out
        FROM (SELECT doc_id, lang, source, n_chars // 500 AS bucket,
            count(*) OVER (PARTITION BY lang, source, n_chars // 500) AS grp_n
          FROM documents) t
        ORDER BY doc_id"""))
  )
}
