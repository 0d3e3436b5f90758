package perfbench

/** Dev tools behind `run.py --tool`:
  *  - `tables <dir>` writes the query_mix harness tables to `<dir>`;
  *  - `hashes <dir> <q1,q2,...>` prints `name<TAB>hash` for each
  *    `<dir>/<name>` parquet dump (the oracle-checked Verify output), the
  *    figures query_mix.tsv records. */
object Tools {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(new java.io.File(".").getAbsolutePath)
    args(0) match {
      case "tables" => HarnessTables.write(spark, args(1))
      case "hashes" => args(2).split(",").filter(_.nonEmpty).foreach { n =>
        println(s"$n\t${ResultHash.of(spark.read.parquet(s"${args(1)}/$n"))}")
      }
    }
    spark.stop()
  }
}
