package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.operators.TextPrep
import graft.sources.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.TimestampType

/** The catalog's access path: `Tables` reads each schema from the parquet
  * footer on the driver, so building loaders submits no job. Pins: the
  * footer schema equals Spark's inferred one (single files and a
  * Spark-written directory), loaders/validate/view registration submit
  * zero jobs, a missing table fails at load naming its path, no main
  * file reads parquet without a schema, and the spread decision keeps
  * its partition counts. */
class TablesSpec extends SparkSpec {

  /** The three scale dirs, siblings of the smoke-scale `sfDir`. */
  private def at(sf: String): String = s"${new java.io.File(sfDir).getParent}/sf$sf"
  private val dirs = Seq("0.001", "0.01", "0.1").map(at)

  private def assertInferredSchema(dir: String, t: String): Unit = {
    val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
    val footer = Tables.load(spark, dir, t).schema
    assert(footer === inferred, s"$dir/$t")
    assert(footer.json === inferred.json, s"$dir/$t")
    assert(footer.map(_.nullable) === inferred.map(_.nullable), s"$dir/$t")
  }

  /** Jobs submitted while `body` runs. Listener events arrive in order,
    * so once a fence job's start is seen every earlier start has been. */
  private def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("") +
          s" job ${e.jobId}")
    }
    def fence(id: String): Seq[String] = {
      sc.setJobGroup(id, id)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .takeWhile { s => assert(s != null, s"fence $id never started"); !s.startsWith(id) }
        .toSeq
    }
    sc.addSparkListener(listener)
    try {
      fence("tables-spec-before")
      body
      fence("tables-spec-after")
    } finally sc.removeSparkListener(listener)
  }

  test("footer schemas equal Spark's inferred schemas on every table at three scales") {
    for (d <- dirs; t <- Tables.All) assertInferredSchema(d, t)
    for (d <- dirs)
      assert(Tables.events(spark, d).schema("ts").dataType === TimestampType, d)
  }

  test("a Spark-written table directory reads the schema inference picks") {
    val out = java.nio.file.Files.createTempDirectory("tables-spec").toString
    Amplify.run(spark, sfDir, out, 1)
    for (t <- Tables.All) assertInferredSchema(out, t)
    assert(Tables.events(spark, out).schema("ts").dataType === TimestampType)
  }

  test("loaders, validate and view registration submit no Spark job") {
    val jobs = jobsDuring {
      Seq(Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _,
        Tables.part _, Tables.orders _, Tables.lineitem _, Tables.events _,
        Tables.documents _, Tables.embeddings _).foreach(_(spark, sfDir))
      assert(Tables.validate(spark, sfDir) === Seq.empty)
      Views.registerTables(spark, sfDir)
    }
    assert(jobs === Seq.empty)
  }

  test("a missing table throws at load, naming its path") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec-missing").toString
    val e = intercept[Exception](Tables.load(spark, dir, "lineitem"))
    assert(e.getMessage.contains(s"$dir/lineitem.parquet"), e.getMessage)
  }

  test("source scan: no main file reads parquet without a schema") {
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val inferring = scalaFiles(new java.io.File("src/main/scala")).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try "\\.read\\s*\\.parquet\\(".r.findFirstIn(src.mkString).isDefined
      finally src.close()
    }
    assert(inferring.isEmpty, s"schema-less parquet reads: ${inferring.map(_.getName)}")
  }

  test("spread keeps cleanDocs' partition count at sf0.001 and sf0.1") {
    assert(TextPrep.cleanDocs(spark, at("0.001")).rdd.getNumPartitions === 1)
    assert(TextPrep.cleanDocs(spark, at("0.1")).rdd.getNumPartitions === 4)
  }
}
