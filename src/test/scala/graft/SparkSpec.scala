package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM; sbt forks tests). */
object SparkSpec {
  lazy val spark: SparkSession = {
    // keep metastore/warehouse artifacts out of the repo working dir
    val scratch = java.nio.file.Files.createTempDirectory("graft-spark-test")
    System.setProperty("derby.system.home", scratch.toString)
    val s = SparkSession.builder()
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$scratch/metastore_db;create=true")
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf(dir: String, table: String): org.apache.spark.sql.DataFrame =
    Tables.load(spark, s"/root/testdata/$dir", table)

  /** Rewrite a JSON control file pretty-printed by Jackson, after `edit`
    * on its parsed tree — the layout an external tool may leave. Drops
    * Hadoop LocalFS's checksum sidecar, which the out-of-band rewrite
    * invalidates. */
  def prettyPrint(path: String)(
      edit: com.fasterxml.jackson.databind.JsonNode => Unit = _ => ()): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val p = java.nio.file.Paths.get(path)
    val tree = mapper.readTree(java.nio.file.Files.readString(p))
    edit(tree)
    java.nio.file.Files.writeString(p,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(tree))
    java.nio.file.Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
  }

  /** The ERROR-level log messages of this JVM (driver and local-mode
    * executors alike) while `body` runs, seen by an appender on the root
    * logger. */
  def errorsLogged(body: => Any): Seq[String] = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-spec-errors", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  /** The Spark jobs submitted while `body` runs, each named by its last
    * stage (`count at Similarity.scala:2338`), seen by a listener between
    * two sentinel jobs (listener delivery is asynchronous; the sentinels
    * bracket exactly the jobs `body` submitted). */
  def jobsSubmitted(body: => Any): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.spec.sentinel"
    val events = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        events.put(Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("job")))
    }
    def sentinel(tag: String): Unit = {
      sc.setLocalProperty(key, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel("start")
      body
      sentinel("end")
      var seen = Vector.empty[String]
      while (!seen.contains("end")) {
        val e = events.poll(30, java.util.concurrent.TimeUnit.SECONDS)
        assert(e != null, "listener never saw the end sentinel")
        seen :+= e
      }
      seen.dropWhile(_ != "start").drop(1).takeWhile(_ != "end")
    } finally sc.removeSparkListener(listener)
  }
}
