package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BindReferences, XxHash64}

/** Order-insensitive digest of a query result: its row count and the
  * wrapping sum of one xxhash64 per row. A sum (not an xor) keeps
  * duplicate rows visible, and neither term depends on row order or on
  * how the rows are split into partitions. */
object Digest {

  /** Execute `df`'s physical plan and fold every row into the digest in
    * the same job, so measuring a query costs its own execution plus one
    * hash per output row — no second run, no rows collected. */
  def ofExecuted(df: DataFrame): String = {
    val qe = df.queryExecution
    val output = qe.executedPlan.output
    val hash = BindReferences.bindReference(XxHash64(output, 42L), output)
    val (rows, sum) = qe.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { r => n += 1; s += hash.eval(r).asInstanceOf[Long] }
      Iterator.single((n, s))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    format(rows, sum)
  }

  def format(rows: Long, sum: Long): String =
    s"$rows:${java.lang.Long.toHexString(sum)}"
}
