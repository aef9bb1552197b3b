package perfbench

import java.nio.file.{Files, Paths}
import graft.{Oracles, SparkEntry}
import graft.sources.Transcripts

/** Writes the program's shared SQL texts to one JSON file, for the input
  * generator and the correctness gate (both run them in DuckDB):
  *
  *   perfbench.Export <out.json>
  */
object Export {
  def main(argv: Array[String]): Unit = {
    require(argv.length == 1, "usage: Export <out.json>")
    Files.writeString(Paths.get(argv(0)), Json(Map(
      "derivation_cte" -> Transcripts.derivationCte,
      "tool_dim_cte" -> Transcripts.toolDimCte,
      "parsed_cte" -> Oracles.parsedCte,
      "with_all" -> Oracles.withAll,
      "oracle_sql" -> SparkEntry.oracleSql)))
  }
}
