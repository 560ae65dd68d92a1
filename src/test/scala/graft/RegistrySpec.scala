package graft

import graft.etl.Registry

/** Cross-cutting gate invariants (SURVEY §5.5):
  *   - every declared query runs at sf0.001 and is deterministic
  *     (two executions produce byte-identical collected rows — catches any
  *     D1–D14 violation that depends on partition order);
  *   - every query carries oracle SQL unless it is on the documented
  *     sketch/stream no-oracle list (SURVEY §2.2).
  */
class RegistrySpec extends SparkFixture {

  private val noOracleAllowed =
    Set("qagg_approxhll", "qagg_cms", "qllm_minhash", "qllm_simhash", "qmm_features",
      "qmm_resize", "qmm_frames", "qagg_hllmerge")

  test("inventory: the no-oracle set is EXACTLY the eight sanctioned keys") {
    // the sanctioned set may only change together with SURVEY §2.2's
    // "exactly eight are no-oracle" paragraph — a new no-oracle query (or a
    // sanctioned one growing an oracle) must fail here loudly
    val actual = Registry.all.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(actual == noOracleAllowed,
      s"no-oracle drift — missing oracle: ${actual -- noOracleAllowed}; " +
        s"sanctioned but oracled now: ${noOracleAllowed -- actual}")
  }

  test("names are unique and follow the q<category>_<name> convention") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.sizeIs == names.size)
    assert(names.forall(_.matches("q[a-z]+_[a-z0-9_]+")), names.filterNot(_.matches("q[a-z]+_[a-z0-9_]+")))
  }

  test("SURVEY §2.2 and the Registry agree exactly (no inventory drift)") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val surveyKeys =
      ("`(q(?:scan|sink|filter|project|join|agg|win|sort|set|dedup|str|date|math|json|array|map" +
        "|explode|llm|stream|udf|udaf|udtf|mm|graph)_[a-z0-9_]+)`").r
        .findAllMatchIn(survey).map(_.group(1)).toSet
    val registryKeys = Registry.all.map(_.name).toSet
    // qscan_avro is classpath-gated (SURVEY §2.2.A): it registers only on
    // deployments that ship the spark-avro connector, so SURVEY may name
    // it while this box's registry omits it
    val conditional =
      if (graft.etl.ops.ScanOps.avroAvailable) Set.empty[String] else Set("qscan_avro")
    assert(registryKeys.subsetOf(surveyKeys),
      s"in Registry but not SURVEY: ${registryKeys -- surveyKeys}")
    assert((surveyKeys -- conditional).subsetOf(registryKeys),
      s"in SURVEY but not Registry: ${surveyKeys -- conditional -- registryKeys}")
  }

  test("avro probe: the classpath-gated query registers iff the connector exists") {
    val has = graft.etl.ops.ScanOps.avroAvailable
    assert(Registry.byName.contains("qscan_avro") == has,
      s"qscan_avro registration must track the spark-avro probe (probe=$has)")
    // on THIS box the connector is absent (zero-egress, core avro only) —
    // if this ever flips, the query self-registers and the driver gate
    // picks it up with its ORC-twin oracle
    assert(!has, "spark-avro appeared on the classpath: remove the documented gap")
  }

  test("every declared query is deterministic at sf0.001 (run-twice byte equality)") {
    // no build may change session-global state: a conf or an extra rule
    // set by one build would change how every later query plans
    def sessionState = (spark.conf.getAll, spark.experimental.extraOptimizations,
      spark.experimental.extraStrategies)
    val before = sessionState
    Registry.all.foreach { q =>
      def run(): Seq[String] = {
        val df = q.build(spark, sfTiny)
        if (sessionState != before) fail(s"${q.name}'s build changed the session's state")
        df.collect().map(_.toString).toSeq
      }
      val a = run()
      val b = run()
      assert(a == b, s"${q.name} is nondeterministic across runs")
    }
  }

  test("one session builder: the test session carries GraftSession's confs and extensions") {
    Seq("spark.sql.session.timeZone" -> "UTC",
      "spark.buffer.pageSize" -> "16m",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true").foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), k)
    }
    // injected at build time: SQL text resolves the native function with
    // no registration call
    val sim = spark.sql("SELECT cosine_similarity(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
      "array(CAST(2 AS FLOAT), CAST(0 AS FLOAT)))").head().getDouble(0)
    assert(sim == 1.0)
    // every other session in src/main comes from GraftSession; GenData keeps
    // its own because its session defines the generated data
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val builders = sources("src/main", ".scala")
      .filter(f => java.nio.file.Files.readString(f).contains("SparkSession.builder("))
      .map(root.relativize(_).toString).toSet
    assert(builders.subsetOf(Set("GraftSession.scala", "tools/GenData.scala")), builders)
  }

  /** Scala source with comments stripped, so a doc mention is not code. */
  private def code(f: java.nio.file.Path): String = java.nio.file.Files.readString(f)
    .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)//.*$", "")

  /** Regular files under `root` whose names end in `suffix`. */
  private def sources(root: String, suffix: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Seq.empty
    else java.nio.file.Files.walk(p).iterator.asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) && f.toString.endsWith(suffix)).toSeq
  }

  test("every public Graft operator has a caller in src/main") {
    // the operator surface is what the declared queries reach; a public
    // def nothing in src/main calls is library surface no gate exercises.
    val main = sources("src/main", ".scala").map(code).mkString("\n")
    val ops = "(?m)^  def (\\w+)".r
      .findAllMatchIn(code(java.nio.file.Paths.get("src/main/scala/graft/api/Graft.scala")))
      .map(_.group(1)).toSeq.distinct
    val uncalled = ops.filter { op =>
      s"\\b$op\\b".r.findAllIn(main).size <= s"\\bdef $op\\b".r.findAllIn(main).size
    }
    assert(uncalled.isEmpty, s"public Graft operators with no caller in src/main: " +
      uncalled.mkString(", "))
  }

  test("every SPARK_GRAFT_ knob read in src/main is set by a script, test or build file") {
    // a knob nothing sets is a code path no run exercises; a new one must
    // arrive together with the script, test or build line that sets it
    val knob = "SPARK_GRAFT_[A-Z_]+".r
    val read = knob.findAllIn(sources("src/main", ".scala").map(code).mkString("\n")).toSet
    val setters = (sources("scripts", "") ++ sources("src/test", ".scala") ++
      sources(".claude", "") ++ sources("build.sbt", "") ++
      sources("perfbench", ".py").filter(_.getParent.endsWith("perfbench")))
      .map(java.nio.file.Files.readString).mkString("\n")
    val unset = read.filterNot(k => s"\\b$k\\b".r.findFirstIn(setters).isDefined)
    assert(unset.isEmpty, s"knobs read in src/main that nothing sets: " +
      unset.toSeq.sorted.mkString(", "))
  }

  test("Bench.queryNames parses known names and refuses an unknown one") {
    assert(graft.Bench.queryNames(" qagg_percentile,,qwin_rank ", "--isolate") ==
      Seq("qagg_percentile", "qwin_rank"))
    val e = intercept[RuntimeException](
      graft.Bench.queryNames("qagg_percentile,qagg_percentlie", "--isolate"))
    assert(e.getMessage.contains("'qagg_percentlie'"))
  }

  test("entry() returns the flagship with rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // ---- D15/D16 preflight lints as BUILD gates (round-13 verdict task 5:
  // scripts/preflight.py only ran when a round remembered to invoke it, so
  // a planted 0-row or driver-hostile-typed query could land between
  // rounds; these two tests make `sbt test` itself the gate). The
  // EMPTY_BY_DESIGN exemption set is PARSED out of preflight.py so the two
  // replicas cannot drift apart silently.

  private def preflightEmptyByDesign: Set[String] = {
    val py = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("scripts/preflight.py")), "UTF-8")
    val body = py.split("EMPTY_BY_DESIGN = \\{")(1).split("\\}")(0)
    "\"(q[a-z0-9_]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSet
  }

  test("D16 gate lint: every declared query emits >= 1 row at the gate sf") {
    val exempt = preflightEmptyByDesign
    val empty = Registry.all.filterNot(q => exempt(q.name))
      .filter(q => q.build(spark, sfSmall).count() == 0L).map(_.name)
    assert(empty.isEmpty,
      s"0 rows at gate sf (vacuous oracle pass) — fix the query or tag " +
        s"EMPTY_BY_DESIGN in scripts/preflight.py: $empty")
  }

  test("D15 driver-compat lint: oracle-compared outputs carry no decimal/array/tz-timestamp columns") {
    import org.apache.spark.sql.types._
    // The driver hashes via pandas: Decimal objects vs float64 hash-
    // mismatch, list cells crash its lexsort, and Spark's TimestampType
    // lands in parquet as tz-aware (isAdjustedToUTC) while DuckDB emits
    // naive — TIMESTAMP_NTZ, DATE, strings and integer/double widths are
    // the safe surface (SURVEY §2.1 D15).
    def hostile(dt: DataType): Boolean = dt match {
      case _: DecimalType | _: ArrayType | _: TimestampType => true
      case _ => false
    }
    val bad = Registry.all.filter(_.oracle.nonEmpty).flatMap { q =>
      val cols = q.build(spark, sfSmall).schema.fields
        .filter(f => hostile(f.dataType)).map(f => s"${f.name}:${f.dataType.sql}")
      if (cols.isEmpty) None else Some(s"${q.name} -> ${cols.mkString(", ")}")
    }
    assert(bad.isEmpty, s"driver-hostile column types: $bad")
  }
}
