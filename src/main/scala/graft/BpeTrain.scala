package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Regenerates [[graft.functions.MlScalars.sentencePieceMerges]]: trains
  * a BPE merge table with the '▁' word prefix on a data directory's
  * documents and writes it as a Scala literal to /tmp/bpe_model.txt.
  *
  *   runMain graft.BpeTrain <sfDir> <merges>
  */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[*]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val docs = graft.core.Tables(spark, args(0), "documents")
      val merges = graft.ops.TextOps.bpeTrain(docs, "text", args(1).toInt,
        wordPrefix = "▁")
      Files.writeString(Paths.get("/tmp/bpe_model.txt"),
        merges.map { case (a, b) => s""""$a" -> "$b"""" }
          .grouped(4).map(_.mkString(", ")).mkString("    ", ",\n    ", "\n"))
    } finally spark.stop()
  }
}
