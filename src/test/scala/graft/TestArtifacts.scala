package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Artifact helpers only specs use. */
object TestArtifacts {

  /** Hard-delete every generation and staging sibling of one artifact, so
    * the next ensure is an honest cold build. Not a lifecycle face:
    * production code invalidates (readers keep the prior generation) or
    * lets `Materialize.gc` reclaim after the grace window, and this skips
    * the per-artifact lock and the ensured-this-session guard. */
  def purge(spark: SparkSession, kind: String, dir: String, version: Int): Unit = {
    val handle = new Path(Materialize.artifactPath(spark, kind, dir, version))
    val fs = handle.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = handle.getName
    try fs.listStatus(handle.getParent).foreach { st =>
      val n = st.getPath.getName
      if (n == base || n.startsWith(base + "."))
        try { fs.delete(st.getPath, true); () }
        catch { case _: java.io.IOException => () }
    } catch { case _: java.io.IOException => () }
  }

  /** The docbase labels of all of `dir`'s documents, ensured. */
  def docBaseOf(spark: SparkSession, dir: String): String =
    Materialize.ensure(spark, operators.CorpusPrep.docBase(spark, dir), dir,
      Tables.documents(spark, dir))
}
