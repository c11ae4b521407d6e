// Build the replicated scaling-study tables (BASELINE.md: /tmp/graft10x,
// /tmp/graft100x). Replicates the sf0.1 tables under `spark.graft.sf_dir`
// `spark.graft.replicas` times (default 10) with id offsets into
// /tmp/graft<replicas>x;
// documents is the dup-heavy worst case (each text appears once per
// replica under distinct doc_ids), and key offsets keep join fan-outs
// realistic (each replica joins only its own replica's dims).
// Usage:
//   spark-shell --master local[4] --conf spark.graft.sf_dir=<sf0.1 dir> \
//     --conf spark.graft.replicas=100 -i tools/replicate_build.scala
import org.apache.spark.sql.functions._
val sf = spark.conf.get("spark.graft.sf_dir")
val replicas = spark.conf.get("spark.graft.replicas", "10").toInt
val out = s"/tmp/graft${replicas}x"
val reps = spark.range(replicas).toDF("rep")
def land(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
  df.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
  println(s"$name: ${spark.read.parquet(s"$out/$name.parquet").count}")
}
val li = spark.read.parquet(s"$sf/lineitem.parquet")
// l_partkey/l_suppkey offset with the same rep stride as p_partkey/
// s_suppkey so each replica joins its own replica's part/supplier rows
// (unoffset, every replica collapses onto replica-0 dims and the other
// replicas of part/supplier dangle)
land("lineitem", li.crossJoin(reps)
  .withColumn("l_orderkey", col("l_orderkey") + col("rep") * 10000000L)
  .withColumn("l_partkey", col("l_partkey") + col("rep") * 1000000L)
  .withColumn("l_suppkey", col("l_suppkey") + col("rep") * 1000000L).drop("rep"))
val ord = spark.read.parquet(s"$sf/orders.parquet")
land("orders", ord.crossJoin(reps)
  .withColumn("o_orderkey", col("o_orderkey") + col("rep") * 10000000L)
  .withColumn("o_custkey", col("o_custkey") + col("rep") * 1000000L).drop("rep"))
val cust = spark.read.parquet(s"$sf/customer.parquet")
land("customer", cust.crossJoin(reps).withColumn("c_custkey", col("c_custkey") + col("rep") * 1000000L).drop("rep"))
val part = spark.read.parquet(s"$sf/part.parquet")
land("part", part.crossJoin(reps).withColumn("p_partkey", col("p_partkey") + col("rep") * 1000000L).drop("rep"))
val supp = spark.read.parquet(s"$sf/supplier.parquet")
land("supplier", supp.crossJoin(reps).withColumn("s_suppkey", col("s_suppkey") + col("rep") * 1000000L).drop("rep"))
val ev = spark.read.parquet(s"$sf/events.parquet")
land("events", ev.crossJoin(reps)
  .withColumn("event_id", col("event_id") + col("rep") * 100000000L)
  .withColumn("user_id", col("user_id") + col("rep") * 1000000L).drop("rep"))
val docs = spark.read.parquet(s"$sf/documents.parquet")
land("documents", docs.crossJoin(reps).withColumn("doc_id", col("doc_id") + col("rep") * 10000000L).drop("rep"))
val emb = spark.read.parquet(s"$sf/embeddings.parquet")
land("embeddings", emb.crossJoin(reps).withColumn("vec_id", col("vec_id") + col("rep") * 1000000L).drop("rep"))
for (small <- Seq("region", "nation")) {
  spark.read.parquet(s"$sf/$small.parquet").write.mode("overwrite").parquet(s"$out/$small.parquet")
  println(s"$small copied")
}
println(s"DONE ${replicas}x build at $out")
sys.exit(0)
