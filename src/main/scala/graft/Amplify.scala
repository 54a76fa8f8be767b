package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev fixture builder for scale-stress runs — not part of the library
  * surface. Amplifies an sf directory by key-offset row replication:
  * each replica `i` shifts the join keys that must stay consistent
  * (`l_orderkey`/`o_orderkey` move together so the order↔lineitem join
  * is preserved; `event_id`/`user_id`, `doc_id`, `vec_id` shift so the
  * replicated rows are new entities, not key collisions), while
  * dimension foreign keys (`o_custkey`, `l_partkey`, `l_suppkey`) are
  * left in range — the realistic shape: facts grow, dimensions don't.
  *
  * `documents`/`embeddings` replicate with UNCHANGED text/vectors under
  * new ids, producing exact-duplicate-heavy corpora — deliberately the
  * adversarial case for the dedup/similarity family, since a k-copy
  * duplicate group must emit C(k,2) true pairs in any correct pairwise
  * dedup.
  *
  * Usage: `runMain graft.Amplify <srcDir> <outDir> <factMult> <docMult>`
  * e.g. `runMain graft.Amplify /root/testdata/sf0.1 /tmp/sf32x 32 8`.
  */
object Amplify {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: Amplify <srcDir> <outDir> <factMult> <docMult>")
    val Array(src, out, factMultS, docMultS) = args
    val factMult = factMultS.toInt
    val docMult = docMultS.toInt
    val spark = LocalSession(32, "spark.sql.legacy.parquet.nanosAsLong" -> "true")

    def table(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    // one replica per row of a small range table — a crossJoin with a
    // range is a broadcast fan-out, no shuffle
    def replicate(df: DataFrame, mult: Int, shifted: Seq[String]): DataFrame = {
      val reps = spark.range(mult).select(col("id").as("__rep"))
      val fanned = df.crossJoin(broadcast(reps))
      val offset = lit(1000000000L) * col("__rep")
      shifted.foldLeft(fanned)((d, c) => d.withColumn(c, col(c) + offset))
        .drop("__rep")
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[amplify] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // dimensions: copy as-is
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(table(t), t)
    }
    // facts: orderkey shifts on BOTH sides so the join structure is
    // preserved per replica; dimension FKs stay in range
    write(replicate(table("orders"), factMult, Seq("o_orderkey")), "orders")
    write(replicate(table("lineitem"), factMult, Seq("l_orderkey")), "lineitem")
    write(replicate(table("events"), factMult, Seq("event_id", "user_id")), "events")
    // corpus: new ids, duplicated content (adversarial for dedup)
    write(replicate(table("documents"), docMult, Seq("doc_id")), "documents")
    write(replicate(table("embeddings"), docMult, Seq("vec_id")), "embeddings")
    spark.stop()
  }
}
