package graft.tools

/** Regenerates [[graft.functions.Bpe.DefaultMerges]]: trains on the synthetic
  * documents corpus and prints the table as a paste-ready Scala literal.
  * Run: `sbt "Test/runMain graft.tools.BpeTrain"` */
object BpeTrain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.Harness.session(defaultCpus = 8)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val merges = graft.functions.Bpe.learnMerges(docs, "text", numMerges = 100)
    def esc(s: String) = s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    }
    println("MERGES_BEGIN")
    merges.grouped(4).foreach { g =>
      println("    " + g.map { case (a, b) => s"""("${esc(a)}", "${esc(b)}")""" }.mkString(", ") + ",")
    }
    println("MERGES_END")
    spark.stop()
  }
}
