package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The DuckDB oracle: expected results computed once per run, before any
  * timing, by `oracle.py` over the same generated tables. */
object Oracle {
  /** Runs every `name -> sql` request and returns each result's rows in
    * [[Canon]] form. */
  def run(spark: SparkSession, benchDir: Path, dataDir: Path, outDir: Path,
      requests: Map[String, String]): Map[String, Seq[String]] = {
    if (requests.isEmpty) return Map.empty
    Files.createDirectories(outDir)
    val req = outDir.resolve("requests.json")
    Files.writeString(req, JsonMethods.compact(JsonMethods.render(
      JObject(requests.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) }))))
    val p = new ProcessBuilder("python3", benchDir.resolve("oracle.py").toString,
      dataDir.toString, req.toString, outDir.toString).inheritIO().start()
    val code = p.waitFor()
    require(code == 0, s"oracle.py exited with $code")
    requests.keys.map { k =>
      k -> Canon.rows(spark.read.parquet(outDir.resolve(s"$k.parquet").toString)
        .collect().toSeq)
    }.toMap
  }
}
