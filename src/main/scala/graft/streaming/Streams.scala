package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.artifact.ArtifactBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The one place a graft streaming query starts, so that a generated
  * class compiles once per JVM, not once per stream, and the checkpoint
  * logs commit each micro-batch without starting a process.
  *
  * `start()` clones the caller's session for the query, and `CodeGenerator`
  * caches compiled classes per (thread context class loader, source). Two
  * settings of the clone would defeat that cache:
  *   - Spark Connect artifact isolation
  *     (`spark.sql.artifact.isolation.enabled`, default true) gives every
  *     clone a new session UUID, and the executor runs the clone's tasks
  *     under a class loader made for that UUID: every query, restart and
  *     drain recompiled every executor-side class the JVM had compiled
  *     before (44 compiles per `dedup_ingest` benchmark drain, about a
  *     fifth of its CPU);
  *   - `spark.sql.codegen.useIdInClassName` (default true) writes the
  *     whole-stage codegen stage number into the class name, and adaptive
  *     execution numbers a query's stages in the order they are planned, so
  *     one plan shape can come out under a different number and compile
  *     again.
  *
  * [[start]] turns both off for the length of the `start()` call. The
  * clone copies the caller's conf at that moment and keeps the values, so
  * its tasks run under the executor's default class loader and reuse the
  * classes compiled before. The caller's conf is restored before `start`
  * returns (unset stays unset), its own isolation is fixed first
  * ([[ArtifactBridge.artifactsAdded]]), and one lock serializes the scoped
  * change, so concurrent starts in one session all get these settings.
  *
  * A session that has added artifacts (jars, class files) keeps isolation:
  * its tasks must see those classes, and only the session's own class
  * loader holds them.
  *
  * [[start]] also makes the stream's checkpoint logs write without child
  * processes: it registers [[NioLocalFs]] as `fs.AbstractFileSystem.file.impl`
  * in the SparkContext's Hadoop configuration, once, when that key still
  * holds Hadoop's default. The offset, commit and metadata logs write
  * through a `FileContext` made from a copy of that configuration; the file
  * source's `sources/<n>` log is made lazily on the stream thread from the
  * caller's session, not the clone, so the key lives in the context rather
  * than in the scoped conf above. `FileContext` caches no filesystem, so the
  * key applies from the next log opened. A value set by the user (in the
  * Hadoop configuration, through `spark.hadoop.*`, or in the session's conf,
  * which overrides the context's) is left alone. */
object Streams {

  private val isolation = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key
  private val idInClassName = SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key
  private[graft] val localFsKey = "fs.AbstractFileSystem.file.impl"
  private val lock = new Object

  /** `configure(ds.writeStream).start()` with the stream session's
    * settings as above. */
  def start[T](ds: Dataset[T])(
      configure: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery = {
    val spark = ds.sparkSession
    val keys = if (ArtifactBridge.artifactsAdded(spark)) Seq(idInClassName)
               else Seq(idInClassName, isolation)
    lock.synchronized {
      useNioLocalFs(spark)
      withFalse(spark, keys)(configure(ds.writeStream).start())
    }
  }

  /** [[NioLocalFs]] for `file:` in the context's Hadoop configuration, unless
    * the key has a value from anywhere but Hadoop's `core-default.xml`. */
  private def useNioLocalFs(spark: SparkSession): Unit = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val sources = Option(hadoopConf.getPropertySources(localFsKey)).toSeq.flatten
    if (sources.forall(_ == "core-default.xml"))
      hadoopConf.set(localFsKey, classOf[NioLocalFs].getName, "graft.streaming.Streams")
  }

  /** `body` with `keys` set false in `spark`'s conf, then restored (unset
    * stays unset); the caller serializes concurrent changes. */
  private[streaming] def withFalse[A](spark: SparkSession, keys: Seq[String])(body: => A): A = {
    val prior = keys.map(k => k -> spark.conf.getAll.get(k))
    keys.foreach(spark.conf.set(_, false))
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
