package graft.queries

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSpark, NioLocalFileSystem, Probe, SparkEntry, Tables}

/** A cloned session reuses its parent's generated classes. Spark keys
  * its codegen cache by (class loader, source), and with per-session
  * artifact isolation each session got its own executor class loader,
  * so every [[Tables.cloneSession]] and every stream's own clone
  * recompiled byte-identical classes. [[Tables.requiredConfs]] turns the
  * isolation off; these tests pin that a warm clone compiles nothing.
  *
  * The streaming clone also checkpoints through Hadoop's `FileSystem`
  * rather than `FileContext`, whose local rename forks a `readlink`
  * process per checkpoint and state file; only that clone does. And
  * every session writes local files through [[NioLocalFileSystem]],
  * which sets a file's permission without forking `chmod`.
  */
class SessionCodegenSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val isolation = "spark.sql.artifact.isolation.enabled"
  private val provider = "spark.sql.streaming.stateStore.providerClass"
  private val manager = "spark.sql.streaming.checkpointFileManagerClass"
  private val fsManager = classOf[FileSystemBasedCheckpointFileManager].getName
  private val fileImpl = "spark.hadoop.fs.file.impl"

  /** The Hadoop conf a session's reads and writes get (Spark's
    * `sessionState.newHadoopConf()`, package-private, hence reflection).
    */
  private def hadoopConf(s: SparkSession): Configuration = {
    val state = s.getClass.getMethod("sessionState").invoke(s)
    state.getClass.getMethod("newHadoopConf").invoke(state).asInstanceOf[Configuration]
  }

  private def compiled(body: => Unit): Long = {
    val c0 = Probe.compiles()
    body
    Probe.compiles() - c0
  }

  private def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `body`'s value and the WARN-or-worse messages logged while it runs. */
  private def withWarnings[T](body: => T): (T, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("session-codegen-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(appender)
    val value = try body finally { root.removeAppender(appender); appender.stop() }
    (value, seen.asScala.toSeq)
  }

  test("every clone carries the isolation flag; cloneSession sets it without a warning") {
    assert(spark.conf.get(isolation) == "false")
    // the capture hears a warning, so an empty capture means none was logged
    assert(withWarnings(LogManager.getLogger("graft.spec").warn("heard"))._2 == Seq("heard"))
    val (cloned, warned) = withWarnings(Tables.cloneSession(spark))
    assert(warned.isEmpty, warned)
    Seq(cloned, spark.newSession(), Catalog.streamingSession(spark)).foreach { s =>
      assert(s.conf.get(isolation) == "false")
      assert(s ne spark)
    }
  }

  test("a warm run of each bench stream compiles no class") {
    assert(Catalog.benchStreamingNames.size == 6)
    val warm = Catalog.benchStreamingNames.map { q =>
      def once(): Unit = run(SparkEntry.queries(q)(spark, sf))
      once()
      q -> compiled(once())
    }
    assert(warm.forall(_._2 == 0L), s"warm compiles per stream: $warm")
  }

  test("a batch query on a cloned session compiles nothing its parent compiled") {
    val q = "q01_pricing_summary"
    run(SparkEntry.queries(q)(spark, sf))
    val clone = Tables.cloneSession(spark)
    val n = compiled(run(SparkEntry.queries(q)(clone, sf)))
    assert(n == 0L, s"$q recompiled $n classes on a clone")
  }

  test("q212's RocksDB state store stays in its own clone") {
    run(SparkEntry.queries("q212_stream_running_state")(spark, sf))
    Seq(spark, spark.newSession()).foreach { s =>
      assert(!s.conf.getOption(provider).exists(_.contains("RocksDB")), s.conf.getOption(provider))
    }
  }

  test("only the streaming clone checkpoints through FileSystem, and it keeps checksums") {
    val (ss, warned) = withWarnings(Catalog.streamingSession(spark))
    assert(warned.isEmpty, warned)
    assert(ss.conf.get(manager) == fsManager)
    assert(ss.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true")
    Seq(spark, Tables.cloneSession(spark), spark.newSession()).foreach { s =>
      assert(!s.conf.getOption(manager).contains(fsManager), s.conf.getOption(manager))
    }
  }

  test("every session resolves file: to the java.nio file system; cloneSession re-sets it quietly") {
    val (cloned, warned) = withWarnings(Tables.cloneSession(spark))
    assert(warned.isEmpty, warned)
    assert(cloned.conf.get(fileImpl) == classOf[NioLocalFileSystem].getName)
    // Hadoop caches one file system per scheme and user, whatever the
    // conf, so a stock instance resolved first would stay pinned
    val confs = spark.sparkContext.hadoopConfiguration +:
      Seq(spark, cloned, Catalog.streamingSession(spark)).map(hadoopConf)
    confs.foreach { c =>
      assert(new Path("file:///tmp").getFileSystem(c).getClass == classOf[NioLocalFileSystem])
    }
  }

  /** The process starts, by command, of a warm run of each bench stream:
    * one census that the two tests below read.
    */
  private lazy val warmStarts: Seq[(String, Map[String, Int])] = {
    val forks = new Probe.Forks
    try {
      // the census hears a start, so an empty count means none happened
      assert(forks.during(new ProcessBuilder("true").start().waitFor())._2 == Map("true" -> 1))
      Catalog.benchStreamingNames.map { q =>
        def once(): Unit = run(SparkEntry.queries(q)(spark, sf))
        once()
        q -> forks.during(once())._2
      }
    } finally forks.close()
  }

  test("a warm run of each bench stream starts no readlink process") {
    assert(warmStarts.forall(!_._2.contains("readlink")), s"process starts per stream: $warmStarts")
  }

  test("a warm run of each bench stream starts no chmod process") {
    assert(warmStarts.forall(!_._2.contains("chmod")), s"process starts per stream: $warmStarts")
  }
}
