package org.apache.spark.sql.artifact

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic

/** Read-only view of a session's `ArtifactManager`, whose state is
  * `protected[artifact]` — hence this package (see
  * `graft.streaming.Streams`). No Spark internals are modified. */
object ArtifactBridge {

  /** True iff `spark` holds artifacts (jars, class files, files), added to
    * it or copied from the session it was cloned from: they live under the
    * session's artifact directory, which exists only then. Also fixes the
    * session's own isolation choice, a lazy read of its conf that its
    * first query would make anyway, so that a scoped change of that conf
    * cannot alter it. */
  def artifactsAdded(spark: SparkSession): Boolean = {
    val am = spark.asInstanceOf[classic.SparkSession].artifactManager
    am.state
    Files.exists(am.artifactPath)
  }
}
