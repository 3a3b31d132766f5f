package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [query ...] — trailing names restrict the dump
    // (local iteration); the driver always passes exactly two.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    def wanted(name: String): Boolean = only.isEmpty || only.contains(name)
    val spark = SparkEntry.mainSession()
    // Clean slate: a stale dump from a previous run would mask a query
    // that now fails BEFORE its overwrite (gate detects errors by absent
    // output).
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree)
      f.delete(); ()
    }
    val out = new java.io.File(outDir)
    if (out.exists()) rmTree(out)
    out.mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (wanted(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    val json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
    def write(file: String, v: Any): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"), json.writeValueAsString(v))
    write("oracle_sql.json", SparkEntry.oracleSql.filter { case (k, _) => wanted(k) })
    // Full query manifest, so the local gate can fail queries whose dump
    // errored (try/catch above) and rows-only-check the oracle-less ones.
    write("queries.json", SparkEntry.queries.keys.toSeq.sorted.filter(wanted))
    spark.stop()
  }
}
