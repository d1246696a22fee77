package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Graft
import graft.queries.Q

/** Scale-out corpus builder for the sf1 correctness gate: replicate the
  * driver's sf0.1 tables `factor`x into `factor` DISJOINT copies of the
  * whole relational world — every key column is offset `key*factor+k`, so
  * all FK joins (orders→customer, lineitem→part/supplier, events→user,
  * documents/embeddings ids) stay intact and every copy is
  * self-consistent. Dimension leaves (region, nation) are shared, exactly
  * as TPC-H holds them constant across scale factors.
  *
  * Value columns are NOT perturbed: exact cross-copy duplicates are the
  * adversarial case for the dedup family (copy families of size `factor`),
  * and the oracle reads the same parquet, so correctness comparisons stay
  * well-defined as long as result orderings tie-break on keys — which the
  * oracle discipline already requires at the driver's own scale factors.
  *
  * Each table lands as a SINGLE parquet file named `<table>.parquet`
  * (written to a staging dir, then the part file is moved flat) so both
  * `spark.read.parquet` and DuckDB's `FROM 'dir/t.parquet'` read it with
  * the same path expression the correctness gate uses. Spark splits a
  * parquet scan only at row-group boundaries, and the default 128 MB row
  * group holds a whole factor-10 lineitem (one group of 6M rows, one scan
  * task), so every table is written with row groups of at most
  * [[RowGroupBytes]].
  *
  * Usage: `runMain graft.ScaleGen [sfDir] [factor] [outDir]`; the factor
  * must be a positive integer.
  */
object ScaleGen {

  /** The parquet row-group bound (`parquet.block.size`): factor-10
    * lineitem comes out as 9 row groups, so its scan runs as several tasks.
    */
  private val RowGroupBytes: Int = 8 * 1024 * 1024

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(Graft.positiveInt("factor", _)).getOrElse(10)
    val outDir = args.lift(2).getOrElse("/tmp/graft_sf1r")
    val spark = Graft.session(s"local[${Graft.localCpus}]", "graft-scalegen")
    spark.sparkContext.setLogLevel("ERROR")

    new java.io.File(outDir).mkdirs()

    // key columns to offset per table; every other column passes through
    val keyCols: Map[String, Seq[String]] = Map(
      "region" -> Seq.empty,
      "nation" -> Seq.empty,
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    keyCols.foreach { case (table, keys) =>
      val t0 = System.nanoTime()
      val base = Q.t(spark, sfDir, table)
      val out: DataFrame =
        if (keys.isEmpty) base
        else {
          val rep = base.withColumn("__k", explode(sequence(lit(0), lit(factor - 1))))
          keys.foldLeft(rep) { (df, kcol) =>
            df.withColumn(kcol, col(kcol) * factor + col("__k"))
          }.select(base.columns.map(col).toIndexedSeq: _*)
        }
      val staging = s"$outDir/__stage_$table"
      out.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", RowGroupBytes.toLong).parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $table"))
      val dest = java.nio.file.Paths.get(s"$outDir/$table.parquet")
      java.nio.file.Files.deleteIfExists(dest)
      java.nio.file.Files.move(part.toPath, dest)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(staging))
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scalegen] $table%-10s -> $dest ($sec%.1fs)")
    }
    spark.stop()
    println(s"""{"out":"$outDir","factor":$factor,"src":"$sfDir"}""")
  }
}
