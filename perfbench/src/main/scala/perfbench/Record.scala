package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.Queries

/**
 * Records the registry's expected values once, at seed:
 *
 *   java ... perfbench.Record <tables dir> <verify dump dir> <out.tsv>
 *
 * The dump is graft.Verify's output over the same tables, already compared
 * with the DuckDB oracle by tools/check.py. Each query's live checksum must
 * equal the checksum of its dumped output; only then is it recorded.
 */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(tables, dump, out) = args
    val spark = Session.start(Paths.get(out).toAbsolutePath.getParent.resolve(".work"), Session.nproc)
    val rows = Queries.all.map { q =>
      val live = Registry.checksum(q.fn(spark, tables))
      val dumped = Registry.checksum(spark.read.parquet(s"$dump/${q.name}"))
      require(live == dumped, s"${q.name}: live $live differs from the checked dump $dumped")
      s"${q.name}\t${live._1}\t${live._2}\t${live._3}"
    }
    val header = "# query\trows\tsum(low 32 bits of xxhash64(to_json(row)))\tsum(high 32 bits)\n" +
      "# recorded by perfbench.Record from output that passed tools/check.py at sf0.01\n"
    Files.write(Paths.get(out), (header + rows.mkString("\n") + "\n").getBytes(UTF_8))
    spark.stop()
  }
}
