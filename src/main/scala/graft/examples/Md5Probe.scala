package graft.examples

import org.apache.spark.sql.SparkSession

/** Dev-only probe (not part of the driver contract): honest same-JVM A/B of
  * the r15 native md5 expressions against the interpreted SQL chains they
  * replaced (t26's per-instance 8-gram sigs, d15's 16-perm signature), plus
  * a phase split of d15's remaining cost (shingling, exact Jaccard, band
  * compare). Warm min-of-3 with noop sinks (guide §1.4).
  * Usage: runMain graft.examples.Md5Probe [sfDir]
  */
object Md5Probe {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    def time(tag: String)(f: => Unit): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $tag%-28s min=${ts.min}%6.2f runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val docs = graft.analytics.Tables.documents(spark, sf)
    // Views.sql owns the only temp-view call site (ConcurrencySpec lint);
    // "md5probe_docs" below is the placeholder it rewrites per invocation
    def psql(text: String) = graft.analytics.Views.sql(spark, docs, "md5probe_docs", text)
    val w = "SELECT doc_id, source, split(lower(text), ' ') AS ws FROM md5probe_docs"

    // ---- t26 gram sigs: interpreted vs native ----
    val t26Interp = s"""SELECT doc_id, explode(transform(sequence(1, size(ws) - 7),
      i -> CAST(conv(substring(md5(concat_ws(' ', slice(ws, i, 8))), 1, 16), 16, -10) AS BIGINT))) AS sig
      FROM ($w) WHERE size(ws) >= 8"""
    val t26Native = s"""SELECT doc_id, explode(graft_shingle_md5_sigs(ws, 8)) AS sig
      FROM ($w) WHERE size(ws) >= 8"""
    time("t26-sigs-interpreted") { noop(psql(t26Interp)) }
    time("t26-sigs-native") { noop(psql(t26Native)) }
    println(s"[probe] t26 gram instances = ${psql(t26Native).count()}")

    // ---- d15: phase split on the calibration window ----
    val shA = "array_distinct(transform(sequence(1, size(sw) - 2), i -> concat_ws(' ', slice(sw, i, 3))))"
    val shB = "array_distinct(transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', slice(ws, i, 3))))"
    val tCte = s"""SELECT doc_id, p,
        $shA AS sha, $shB AS shb
      FROM (SELECT doc_id, p, ws,
              slice(ws, 1, greatest(3, CAST(floor((size(ws) * p) / 10.0) AS INT))) AS sw
            FROM (SELECT doc_id, split(regexp_replace(lower(text), '\\\\s+', ' '), ' ') AS ws
                  FROM md5probe_docs WHERE doc_id < 256)
            LATERAL VIEW explode(sequence(1, 9)) ex AS p
            WHERE size(ws) >= 3)"""
    val sigInterp = (sh: String) => s"""transform(sequence(0, 15), k -> array_min(transform($sh,
      x -> CAST(conv(substring(md5(CAST(concat(CAST(k AS STRING), '|', x) AS BINARY)), 1, 15), 16, 10) AS BIGINT))))"""
    time("d15-shingles-only") { noop(psql(tCte)) }
    time("d15-sig-interpreted") { noop(psql(
      s"SELECT doc_id, p, ${sigInterp("sha")} AS siga, ${sigInterp("shb")} AS sigb " +
        s"FROM ($tCte) WHERE size(sha) > 0 AND size(shb) > 0")) }
    time("d15-jaccard-only") { noop(psql(
      s"""SELECT CAST(least(9, floor((CAST(size(array_intersect(sha, shb)) AS DOUBLE)
        / size(array_distinct(concat(sha, shb)))) * 10)) AS BIGINT) AS bucket
        FROM ($tCte)""")) }
    time("d15-full-entry") { graft.analytics.NearDup.lshCalibration(spark, sf).count(); () }
    // the PRE-r15 entry verbatim (interpreted sig HOF), same JVM, for the
    // honest end-to-end A/B — the sig-only probes above force full
    // materialization, while the entry's exists() band compare may
    // short-circuit parts of an inlined interpreted chain
    val oldFull = s"""WITH t AS ($tCte),
      g AS (SELECT doc_id, p, sha, shb,
          ${sigInterp("sha")} AS siga, ${sigInterp("shb")} AS sigb
        FROM t WHERE size(sha) > 0 AND size(shb) > 0),
      pr AS (SELECT
          CAST(least(9, floor((CAST(size(array_intersect(sha, shb)) AS DOUBLE)
            / size(array_distinct(concat(sha, shb)))) * 10)) AS BIGINT) AS bucket,
          CASE WHEN exists(sequence(0, 3), bb ->
              slice(siga, bb * 4 + 1, 4) = slice(sigb, bb * 4 + 1, 4))
            THEN 1 ELSE 0 END AS coll
        FROM g)
      SELECT bucket, count(1) AS n_pairs, CAST(sum(coll) AS BIGINT) AS n_collide,
        (CAST(sum(coll) AS BIGINT) * 1000000) div count(1) AS collide_ppm
      FROM pr GROUP BY bucket ORDER BY bucket"""
    time("d15-full-OLD-interpreted") { psql(oldFull).count(); () }
    println(s"[probe] d15 window rows = ${psql(tCte).count()}")
    spark.stop()
  }
}
