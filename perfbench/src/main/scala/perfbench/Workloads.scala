package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{Registry, Tables}
import graft.core.MapReduce
import graft.sources.{CowOps, FsMeta, ManifestTable}

/** What every workload gets from the harness. `expected` maps
  * "workload/op" to the digest the op's rows must have.
  */
final case class Ctx(spark: SparkSession, seed: Long, data: String,
    work: File, expected: Map[String, String], smoke: Boolean)

trait Workload {
  def name: String
  /** Cycles run before timing: the first one is cold; the rest let the JIT
    * settle (measured cycle times stop falling after them).
    */
  def warmupCycles: Int
  /** Makes the inputs; returns facts recorded in every output. */
  def prepare(): Seq[(String, Any)]
  /** Runs before each cycle, outside any op's timing. */
  def beforeCycle(): Unit = ()
  /** One cycle: every op of the workload once, in an order drawn from `rng`. */
  def cycle(rng: scala.util.Random): Seq[Op]
  /** Extra per-layer figures of this workload, measured after the timed window. */
  def extraLayers(): Seq[(String, Double, String)] = Nil
  /** Bytes the workload has stored per byte of its input, when it stores any. */
  def storedPerInput(): Option[Double] = None
  def cleanup(): Unit = ()

  protected def expect(ctx: Ctx, op: String): Output => Option[String] =
    ctx.expected.get(s"$name/$op") match {
      case Some(d) => Digest.checkRows(d)
      case None => _ => Some(s"no expected digest for $name/$op")
    }
}

object Workloads {
  val names = Seq("mr_corpus", "engine_mix", "storage_rw", "curation_chain")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "mr_corpus" => new MrCorpus(ctx)
    case "engine_mix" => new EngineMix(ctx)
    case "curation_chain" => new CurationChain(ctx)
    case "storage_rw" => new StorageRw(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other; expected one of ${names.mkString(", ")}")
  }
}

/** Functions shipped to tasks by the typed and RDD MapReduce ops. */
object MrFns {
  def words(s: String): Iterator[String] =
    s.split(MapReduce.tokenSeparator).iterator.filter(_.nonEmpty)
  val mapWords: String => IterableOnce[(String, Long)] =
    s => words(s).map(w => (w, 1L))
  val sumValues: (String, Iterator[Long]) => Long = (_, it) => it.sum
  val mapFile: (String, String) => Seq[(String, Long)] =
    (_, c) => words(c).map(w => (w, 1L)).toSeq
  val add: (Long, Long) => Long = _ + _
}

/** The reference's own job shape over a seeded Zipf corpus: word count,
  * inverted index, the typed groupByKey/mapGroups path (no combiner, like
  * the reference), and the RDD path with default partitioning and with the
  * reference's explicit nReduce hash partitioning (one bucket per core).
  * Checked against the histogram and the document sets the generator
  * produced.
  */
final class MrCorpus(ctx: Ctx) extends Workload {
  val name = "mr_corpus"
  val warmupCycles = 2
  private val spark = ctx.spark
  private val corpus =
    if (ctx.smoke) new Corpus(new File(ctx.work, "corpus"), ctx.seed, 4, 16 << 10, 2000)
    else new Corpus(new File(ctx.work, "corpus"), ctx.seed, 32, 128 << 10, 30000)
  private def glob = corpus.dir.getAbsolutePath + "/*.txt"

  def prepare(): Seq[(String, Any)] = {
    corpus.generate()
    Seq("corpus_files" -> corpus.files, "corpus_bytes" -> corpus.bytes,
      "corpus_distinct_words" -> corpus.counts.size)
  }

  private def checkCounts(got: Iterator[(String, Long)], n: Int): Option[String] =
    if (n != corpus.counts.size) Some(s"$n words, expected ${corpus.counts.size}")
    else got.collectFirst {
      case (w, c) if !corpus.counts.get(w).contains(c) =>
        s"count of '$w' is $c, expected ${corpus.counts.get(w)}"
    }

  private val counted: Output => Option[String] = {
    case Rows(rows) => checkCounts(rows.iterator.map(r => (r.getString(0), r.getLong(1))), rows.length)
    case KeyCounts(p) => checkCounts(p.iterator, p.length)
    case NoRows => Some("no rows")
  }

  private val indexed: Output => Option[String] = {
    case Rows(rows) =>
      if (rows.length != corpus.counts.size)
        Some(s"${rows.length} words, expected ${corpus.counts.size}")
      else rows.iterator.map { r =>
        val w = r.getString(0)
        val docs = r.getString(2).split(",").map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
        (w, r.getLong(1), docs)
      }.collectFirst {
        case (w, n, docs) if docs != corpus.docSet(w) || n != docs.size =>
          s"documents of '$w' are ${docs.toSeq.sorted}, expected ${corpus.docSet(w).toSeq.sorted}"
      }
    case other => Some(s"expected rows, got $other")
  }

  private lazy val ops = {
    import spark.implicits._
    def files = MapReduce.wholeTextFiles(spark, glob)
    Seq(
      Op("mr.wordcount", "wordcount",
        () => Frame(MapReduce.wordCount(files, "contents")), counted),
      Op("mr.index", "index",
        () => Frame(MapReduce.invertedIndex(files, "contents", "filename")), indexed),
      Op("mr.typed", "typed",
        () => Frame(MapReduce.mapReduce(files.select("contents").as[String],
          MrFns.mapWords, MrFns.sumValues).toDF()), counted),
      Op("mr.rdd", "rdd",
        () => Pairs(MapReduce.mapReduceRdd(spark, glob, MrFns.mapFile, MrFns.add)), counted),
      Op("mr.rdd_nreduce", "rdd_nreduce",
        () => Pairs(MapReduce.mapReduceRdd(spark, glob, MrFns.mapFile, MrFns.add,
          numPartitions = spark.sparkContext.defaultParallelism)), counted))
  }

  def cycle(rng: scala.util.Random): Seq[Op] = rng.shuffle(ops)

  override def cleanup(): Unit = corpus.delete()
}

/** Registry queries from the set `graft.Bench` times, on the bundled
  * fixture, plus compact table write/read groups (create, copy-on-write
  * merge, time travel, merge-on-read delete through SQL, pruned reads).
  * Queries and table groups run in a seeded order; each op is one engine
  * call plus collecting its rows.
  */
final class EngineMix(ctx: Ctx) extends Workload {
  val name = "engine_mix"
  val warmupCycles = 2
  private val storage = new StorageRw(ctx)
  private val queries = if (ctx.smoke) EngineMix.Queries.take(1) else EngineMix.Queries

  def prepare(): Seq[(String, Any)] = Seq("queries" -> queries.size) ++ storage.prepare()
  override def beforeCycle(): Unit = storage.beforeCycle()

  private lazy val ops = queries.map { q =>
    val d = Registry.byName(q)
    Op("query", q, () => Frame(d.run(ctx.spark, ctx.data)), expect(ctx, q))
  }

  def cycle(rng: scala.util.Random): Seq[Op] =
    rng.shuffle(ops.map(Seq(_)) ++ storage.compactGroups).flatten

  override def storedPerInput(): Option[Double] = storage.storedPerInput()
  override def cleanup(): Unit = storage.cleanup()
}

object EngineMix {
  /** The mix's queries: a relational aggregate, a storage-partitioned join
    * over engine sources, and MinHash near-duplicate pairs, whose lineage
    * cut runs jobs at build time. The table groups add the SQL surface,
    * writes, commits and pruned reads.
    */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q85_storage_partitioned_join",
    "p02_minhash_neardup")
}

/** The composed curation chain `p92_pipeline_e2e`, whose eager build-time
  * jobs (lineage cuts, connected components) are most of the op.
  */
final class CurationChain(ctx: Ctx) extends Workload {
  val name = "curation_chain"
  val warmupCycles = 2
  private val q = "p92_pipeline_e2e"

  def prepare(): Seq[(String, Any)] = Seq("queries" -> 1)

  private lazy val op = Op("query", q,
    () => Frame(Registry.byName(q).run(ctx.spark, ctx.data)), expect(ctx, q))

  def cycle(rng: scala.util.Random): Seq[Op] = Seq(op)

  /** Marginal time of each stage prefix of the chain (each prefix is
    * rebuilt from scratch and counted, as `PipelineE2e.stageThunks` does).
    */
  override def extraLayers(): Seq[(String, Double, String)] = {
    val thunks = graft.queries.PipelineE2e.stageThunks(ctx.spark, ctx.data)
    var prev = 0.0
    thunks.map { case (stage, run) =>
      val t0 = System.nanoTime()
      run()
      val s = (System.nanoTime() - t0) / 1e9
      val marginal = s - prev
      prev = s
      (s"p92.${stage}_s", marginal, "s")
    }
  }
}

/** Table writes through the engine's storage layer and pruned reads of what
  * they wrote: create/commit, copy-on-write merge and delete, merge-on-read
  * delete and merge through SQL, CTAS, write-audit-publish and schema
  * evolution. Tables live under the work directory; each cycle starts from
  * an empty directory, so every read uses the handle of the newest build.
  */
final class StorageRw(ctx: Ctx) extends Workload {
  val name = "storage_rw"
  val warmupCycles = 3
  private val spark = ctx.spark
  private val Fmt = "graft.sources.ManifestTable"
  private val root = new File(ctx.work, "tables").getAbsolutePath
  private val Cat = "perfbench"
  private val cow = s"$root/cow"
  private val wap = s"$root/wap"
  private val evolve = s"$root/evolve"
  private var cowV0 = -1L

  def prepare(): Seq[(String, Any)] = {
    spark.conf.set(s"spark.sql.catalog.$Cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$Cat.warehouse", s"$root/wh")
    Seq("input_bytes" -> inputBytes)
  }

  private def inputBytes: Long =
    Seq("customer", "orders").map(t => new File(s"${ctx.data}/$t.parquet").length).sum

  override def beforeCycle(): Unit = FsMeta.deleteRecursive(root)

  private def cust: DataFrame = Tables.t(spark, ctx.data, "customer")
  private def clustered: DataFrame =
    cust.repartitionByRange(8, col("c_custkey")).sortWithinPartitions("c_custkey")
  private val custCols = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"

  /** Updates for the merges: every tenth customer changed, three new keys. */
  private def updates: DataFrame = {
    import spark.implicits._
    cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), concat(lit("upd-"), col("c_name")).as("c_name"),
        col("c_nationkey"), (col("c_acctbal") + lit(1000.0)).as("c_acctbal"),
        col("c_mktsegment"))
      .unionByName((0 until 3).map(i => (1000000000L + i, s"new-$i", i, 0.0, "MACHINERY"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .withColumn("c_nationkey", col("c_nationkey").cast("int")))
  }

  private def table(path: String): DataFrame = spark.read.format(Fmt).load(path)
  private def committed(path: String): Output => Option[String] = _ =>
    if (ManifestTable.readManifest(path).isDefined) None else Some(s"no commit at $path")

  private def write(op: String, path: String)(body: => Unit): Op =
    Op("write", op, () => { body; Written }, committed(path), write = true)
  private def read(op: String)(df: => DataFrame): Op =
    Op("read", op, () => Frame(df), expect(ctx, op))

  private def cowGroup = Seq(
    write("cow_create", cow) {
      clustered.write.format(Fmt).option("path", cow).mode("append").save()
      cowV0 = ManifestTable.readManifest(cow).get.version
    },
    read("cow_range_read")(table(cow)
      .filter(col("c_custkey").between(200, 400)).select("c_custkey", "c_name")),
    write("cow_merge", cow) { CowOps.merge(spark, cow, updates, "c_custkey"): Unit },
    read("cow_merged_read")(table(cow).filter(col("c_name").startsWith("upd-"))),
    read("cow_version_read")(spark.read.format(Fmt).option("versionAsOf", cowV0)
      .load(cow).filter(col("c_custkey") % 10 === 0)),
    write("cow_delete", cow) {
      CowOps.delete(spark, cow, cust.filter(col("c_custkey") % 7 === 0)
        .select("c_custkey"), "c_custkey"): Unit
    },
    read("cow_deleted_read")(table(cow).filter(col("c_nationkey") < 5)))

  private def morGroup = Seq(
    write("mor_create", s"$root/wh/cust") {
      spark.sql(s"""CREATE TABLE $Cat.cust (
                   |  c_custkey BIGINT, c_name STRING, c_nationkey INT,
                   |  c_acctbal DOUBLE, c_mktsegment STRING)
                   |TBLPROPERTIES('write.delete.mode'='merge-on-read',
                   |  'write.update.mode'='merge-on-read',
                   |  'write.merge.mode'='merge-on-read')""".stripMargin)
      clustered.createOrReplaceTempView("perfbench_cust")
      spark.sql(s"INSERT INTO $Cat.cust SELECT $custCols FROM perfbench_cust")
    },
    write("mor_delete", s"$root/wh/cust") {
      spark.sql(s"DELETE FROM $Cat.cust WHERE c_custkey % 7 = 0")
    },
    read("mor_deleted_read")(spark.sql(
      s"SELECT $custCols FROM $Cat.cust WHERE c_custkey BETWEEN 100 AND 700")),
    write("mor_merge", s"$root/wh/cust") {
      updates.createOrReplaceTempView("perfbench_upd")
      spark.sql(s"""MERGE INTO $Cat.cust t USING perfbench_upd u
                   |ON t.c_custkey = u.c_custkey
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    },
    read("mor_read")(spark.sql(
      s"SELECT $custCols FROM $Cat.cust WHERE c_custkey BETWEEN 100 AND 700")))

  private def ctasGroup = Seq(
    write("ctas", s"$root/wh/ord") {
      Tables.t(spark, ctx.data, "orders").createOrReplaceTempView("perfbench_orders")
      spark.sql(s"""CREATE TABLE $Cat.ord PARTITIONED BY (o_orderpriority)
                   |AS SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   |  o_orderpriority FROM perfbench_orders""".stripMargin)
    },
    read("ctas_partition_read")(spark.sql(
      s"""SELECT o_orderkey, o_totalprice FROM $Cat.ord
         |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 300000""".stripMargin)))

  private def wapGroup = Seq(
    write("wap_stage", wap) {
      import spark.implicits._
      cust.repartition(4).write.format(Fmt).option("path", wap).mode("append").save()
      ManifestTable.createBranch(wap, "audit")
      (0 until 3).map(i => (1000000000L + i, s"new-$i", i, 0.0, "MACHINERY"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .withColumn("c_nationkey", col("c_nationkey").cast("int"))
        .write.format(Fmt).option("path", wap).option("branch", "audit")
        .mode("append").save()
    },
    read("wap_audit_read")(spark.read.format(Fmt).option("branch", "audit")
      .load(wap).filter(col("c_custkey") > 1400)),
    write("wap_publish", wap) {
      ManifestTable.fastForward(wap, "audit")
      ManifestTable.dropBranch(wap, "audit")
    },
    read("wap_main_read")(table(wap).filter(col("c_mktsegment") === "MACHINERY")))

  private def evolveGroup = Seq(
    write("evolve_write", evolve) {
      cust.filter(col("c_custkey") % 2 === 0).select("c_custkey", "c_name")
        .write.format(Fmt).option("path", evolve).mode("append").save()
      cust.filter(col("c_custkey") % 2 === 1).select("c_custkey", "c_name", "c_acctbal")
        .write.format(Fmt).option("path", evolve).mode("append").save()
    },
    read("evolve_read")(table(evolve).filter(col("c_custkey") < 300)))

  /** Table groups run in a seeded order; each group's ops keep their order. */
  def cycle(rng: scala.util.Random): Seq[Op] = {
    val groups = Seq(cowGroup, morGroup, ctasGroup, wapGroup, evolveGroup)
    if (ctx.smoke) groups.head else rng.shuffle(groups).flatten
  }

  /** The copy-on-write create/merge/time-travel path and the merge-on-read
    * SQL delete, for mixes that cannot afford every group.
    */
  def compactGroups: Seq[Seq[Op]] =
    if (ctx.smoke) Seq(cowGroup.take(2))
    else Seq(cowGroup.take(5), morGroup.take(3))

  override def storedPerInput(): Option[Double] =
    Some(Main.dirSize(new File(root))._1.toDouble / inputBytes)

  override def cleanup(): Unit = FsMeta.deleteRecursive(root)
}
