package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** The harness layer: one session definition (`Session`) shared by the
  * mains and this suite, and the `Verify` dump loop.
  */
class HarnessSpec extends AnyFunSuite {
  import SparkTestSession._

  test("the test session carries every shared setting; a second Session call returns it") {
    for ((k, v) <- Session.settings(4))
      assert(spark.conf.get(k) == v, s"$k")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.warehouse.dir").endsWith("/tmp/graft-test-warehouse"))
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString == "ERROR")
    assert(Session(4) eq spark)
  }

  test("SPARK_GRAFT_CPUS must be a positive integer, and the message names it") {
    assert(Session.parseCpus(None) == 4)
    assert(Session.parseCpus(Some("8")) == 8)
    for (bad <- Seq("abc", "0", "-2", "", "4.5")) {
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("sessions are built only in Session.scala, tables read only in Tables.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (cwd ${new java.io.File(".").getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
      .map(f => f.getName -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    def holders(re: String) = sources.collect {
      case (name, text) if re.r.findFirstIn(text).isDefined => name
    }.toSet
    assert(holders("""SparkSession\s*\.\s*builder""") == Set("Session.scala"))
    assert(holders("""\.read\s*(\.schema\([^)]*\)\s*)?\.parquet\(""") == Set("Tables.scala"))
  }

  test("Verify: a query that throws while its frame is built leaves no stale output") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify").toFile
    try {
      val stale = new java.io.File(out, "bad")
      spark.range(5).toDF("id").write.parquet(stale.getPath)
      assert(stale.isDirectory)
      Verify.writeQueries(spark, sfDir, out.getPath, Seq(
        "bad" -> ((_, _) => throw new IllegalStateException("fails at build time")),
        "good" -> ((s, _) => s.range(3).toDF("id").withColumn("v", lit(1)))))
      assert(!stale.exists(), "a failed query kept an earlier run's output")
      assert(spark.read.parquet(s"${out.getPath}/good").count() == 3)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
  }
}
