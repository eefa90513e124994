package graft.perfbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.engine.Tables

/** `curate`: the CLI path. The iteration runs `RunPipeline.run` (q117,
  * ManifestSink publish, read-back) and then q221 on a fresh snapshot
  * `iter0`, so session memos miss as in a cron-driven run. One iteration
  * takes longer than the measurement window, so a run holds one. Set-up
  * only loads the tables: like the cron-driven CLI, whose every run starts
  * a fresh JVM, the iteration pays the engine's warm-up. */
final class Curate(c: Ctx) extends Workload {
  import Curate._
  override def maxOps: Int = 1

  private def iteration(dir: String, tag: String): Unit = {
    c.tr.span("tools", "run_pipeline")(
      graft.tools.RunPipeline.run(c.spark, dir, s"${c.o.out}/pipe/$tag"))
    val (schema, rows) = c.tr.span("operators", "q221_script_pipeline")(
      c.query(SparkEntry.queries("q221_script_pipeline"), dir))
    c.keep("q221_script_pipeline", dir, schema, rows)
  }

  def setup(): Unit = {
    val dir = c.snapshot("setup")
    c.tr.span("engine", "tables_load")(
      Seq("documents", "embeddings").foreach(t => Tables.load(c.spark, dir, t).count()))
  }

  def step(i: Int): Unit = {
    val dir = c.snapshot(s"iter$i")
    val n = Tables.documents(c.spark, dir).count()
    if (c.op("curate", s"iter$i", n)(iteration(dir, s"iter$i"))) {
      // read the just-published table back, as its consumers would; the
      // last read is kept for the q117 oracle
      val reads = (1 to ProbeReads).map { _ =>
        c.probe(s"iter$i")(c.read(c.spark.read.format("graft.sources.ManifestSink")
          .option("path", s"${c.o.out}/pipe/iter$i").load()))
      }
      reads.last.foreach { case (schema, rows) =>
        c.keep("q117_corpus_pipeline", dir, schema, rows) }
    }
  }
}

object Curate {
  val ProbeReads = 8
}

/** `maintain`: writes beside reads. Set-up stands up the corpus and media
  * source tables of snapshot `setup` and every maintained index on them.
  * Each measured step appends the next fixed-size arrival batch plus a
  * two-document delete, folds them into every family through its public
  * per-batch entry point, and then probes the refreshed tables through the
  * `graft` catalog. */
final class Maintain(c: Ctx) extends Workload {
  import Maintain._
  private val s = c.spark
  private val ns = "m"
  private var arrivals: Seq[Array[(Long, String)]] = Nil
  private var standing = Vector.empty[Long]
  // delete victims and probed arrivals come from a fixed draw, so that
  // every seed does the same work
  private val rnd = new Random(VictimSeed)
  override def maxOps: Int = arrivals.size

  private def t(name: String) = s"$ns.$name"
  private def docsDf(rows: Seq[(Long, String)]): DataFrame =
    s.createDataFrame(rows).toDF("doc_id", "text")

  def setup(): Unit = {
    val dir = c.snapshot("setup")
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.warehouse", s"${c.o.out}/warehouse")
    val all = c.tr.span("engine", "tables_load")(
      Tables.documents(s, dir).select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))))
    // split by the base corpus's doc ids, not the seeded row order, so that
    // every seed stands up and folds the same structure: the first
    // CorpusDocs stand, the rest arrive in batches of BatchDocs
    val (corpus, rest) = all.sortBy(_._1).splitAt(CorpusDocs)
    arrivals = rest.grouped(BatchDocs).filter(_.length == BatchDocs).toSeq
    standing = corpus.map(_._1).toVector
    c.tr.span("sources", "create_tables") {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
      s.sql(s"CREATE TABLE graft.${t("corpus")} (doc_id BIGINT, text STRING) " +
        "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      s.sql(s"CREATE TABLE graft.${t("media")} (doc_id BIGINT, px ARRAY<BIGINT>) " +
        "TBLPROPERTIES ('delete.mode' = 'merge-on-read')")
      s.sql(s"CREATE TABLE graft.${t("surgery")} " +
        "(doc_id BIGINT, n_lines BIGINT, n_dropped BIGINT, clean_md5 STRING)")
      val d = docsDf(corpus.toSeq)
      d.writeTo(s"graft.${t("corpus")}").append()
      graft.operators.MultimodalOps.phashPixelsOf(d.select("doc_id"))
        .writeTo(s"graft.${t("media")}").append()
    }
    c.tr.span("sources", "create_index")(createAll("", threads = 2))
  }

  /** Create every family's index over the current source tables, with
    * table names suffixed by `tag` (empty: the maintained set), on
    * `threads` threads: the builds are independent. */
  private def createAll(tag: String, threads: Int): Unit = {
    import graft.sources._
    val builds: Seq[() => Any] = Seq(
      () => ClusterIndexMaintenance.createIndex(s, "graft", t("corpus"), t(s"cl_lab$tag"),
        t(s"cl_edg$tag"), t(s"cl_bnd$tag")),
      () => SsimIndexMaintenance.createIndex(s, "graft", t("corpus"), t(s"ss_df$tag"),
        t(s"ss_pre$tag")),
      () => LineTableMaintenance.create(s, "graft", t("corpus"), t(s"lines$tag")),
      () => MinHashIndexMaintenance.createIndex(s, "graft", t("corpus"), t(s"mh_dig$tag"),
        t(s"mh_band$tag")),
      () => PhashIndexMaintenance.createIndex(s, "graft", t("media"), t(s"ph_hash$tag"),
        t(s"ph_band$tag")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try builds.map(b => pool.submit(() => b())).foreach(_.get())
    finally pool.shutdown()
  }

  def step(i: Int): Unit = {
    import graft.sources._
    import graft.streaming._
    val batch = arrivals(i)
    val victims = rnd.shuffle(standing).take(DeleteDocs)
    standing = standing.filterNot(victims.contains) ++ batch.map(_._1)
    val ids = victims.mkString(",")
    val ok = c.op("fresh", s"batch$i", batch.length.toLong) {
      val docs = docsDf(batch.toSeq)
      val media = graft.operators.MultimodalOps.phashPixelsOf(docs.select("doc_id"))
      c.tr.span("sources", "append") {
        docs.writeTo(s"graft.${t("corpus")}").append()
        s.sql(s"DELETE FROM graft.${t("corpus")} WHERE doc_id IN ($ids)")
        media.writeTo(s"graft.${t("media")}").append()
        s.sql(s"DELETE FROM graft.${t("media")} WHERE doc_id IN ($ids)")
      }
      c.tr.span("sources", "refresh.mh")(MinHashIndexMaintenance.refreshCdc(
        s, "graft", t("corpus"), t("mh_dig"), t("mh_band")))
      c.tr.span("sources", "refresh.ssim")(SsimIndexMaintenance.refreshCdc(
        s, "graft", t("corpus"), t("ss_df"), t("ss_pre")))
      c.tr.span("streaming", "apply_batch.cluster")(ClusterStream.applyBatch(
        s, docs, "graft", t("corpus"), t("cl_lab"), t("cl_edg"), t("cl_bnd")))
      c.tr.span("streaming", "apply_batch.lines")(LineSurgeryStream.applyBatch(
        s, docs, "graft", t("corpus"), t("lines"), t("surgery")))
      c.tr.span("streaming", "apply_batch.phash")(MediaStream.applyBatch(
        s, media, "graft", t("media"), t("ph_hash"), t("ph_band")))
    }
    if (ok) {
      val docs = rnd.shuffle(batch.toSeq).take(ProbeDocs)
      val lines = docsDf(docs).select(col("doc_id"), element_at(
        graft.operators.DedupOps.lineChunksOf(col("text")), 1)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      docs.foreach { case (id, _) => probe(i, id, lines(id)) }
    }
  }

  /** Point reads against the refreshed tables for one arrival: its
    * cluster label, its first line's document frequency, its media hash.
    * Each must find the document. */
  private def probe(i: Int, id: Long, line: String): Unit = {
    val hits = c.probe(s"batch$i")(Seq(
      s.table(s"graft.${t("cl_lab")}").filter(col("doc_id") === id),
      s.table(s"graft.${t("lines")}").filter(col("line") === line),
      s.table(s"graft.${t("ph_hash")}").filter(col("doc_id") === id))
      .map(df => c.read(df)._2.length))
    val want = if (c.wrongExpected) Seq(1, 1, 2) else Seq(1, 1, 1)
    c.check(s"probe:batch$i:$id", hits.contains(want), s"doc $id hits $hits")
  }

  /** Every maintained index equals a from-scratch build over the final
    * source tables: the same row multiset (a double fold shows as a
    * duplicated row) for cluster labels, media hashes and bands, and line
    * frequencies; the same probe verdicts, again as multisets, for MinHash
    * and set-sim, whose stored layouts legitimately depend on history. */
  override def finish(): Unit = try {
    createAll("_ref", threads = 5)
    type Bag = Map[Seq[Any], Int]
    def bag(rows: Array[org.apache.spark.sql.Row]): Bag =
      rows.toSeq.map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case x => x
      }).groupMapReduce(identity)(_ => 1)(_ + _)
    // the expected side; a wrong expected result drops one row from it
    def expected(rows: Array[org.apache.spark.sql.Row]): Bag =
      bag(if (c.wrongExpected) rows.drop(1) else rows)
    def check(name: String, what: String, a: Bag, b: Bag): Unit = {
      val differ = (a.keySet ++ b.keySet).count(k => a.get(k) != b.get(k))
      c.check(name, a == b && a.nonEmpty, s"maintained ${a.values.sum} $what, " +
        s"from-scratch ${b.values.sum}, $differ distinct ones differ in count")
    }
    def rows(name: String, cols: String*) =
      s.table(s"graft.${t(name)}").select(cols.map(col): _*).collect()
    def same(fam: String, name: String, cols: String*): Unit =
      check(s"index:$fam:$name", "rows", bag(rows(name, cols: _*)),
        expected(rows(s"${name}_ref", cols: _*)))
    same("cluster", "cl_lab", "doc_id", "rep")
    same("phash", "ph_hash", "doc_id", "bands")
    same("phash", "ph_band", "band", "doc_id")
    same("lines", "lines", "line", "df")
    val final_ = s.table(s"graft.${t("corpus")}").select("doc_id", "text")
    // probe with renamed copies of seeded source docs: each must find its
    // original, and whatever else the index holds near it
    val probeDocs = final_.orderBy(rand(c.o.seed)).limit(CheckDocs)
      .select((col("doc_id") + ProbeIdOffset).as("doc_id"), col("text"))
      .localCheckpoint()
    def mh(tag: String) = graft.operators.DedupOps.mhProbe(s, probeDocs, final_,
      s"graft.${t(s"mh_dig$tag")}", s"graft.${t(s"mh_band$tag")}").collect()
    check("index:mh:probe", "verdicts", bag(mh("")), expected(mh("_ref")))
    def ssim(tag: String) = graft.operators.DedupOps.ssimProbeTk(s,
        graft.sources.SsimIndexMaintenance.docTokens(probeDocs).localCheckpoint(),
        final_, s"graft.${t(s"ss_df$tag")}", s"graft.${t(s"ss_pre$tag")}")
      .select("doc_a", "doc_b").collect()
    check("index:ssim:probe", "pairs", bag(ssim("")), expected(ssim("_ref")))
    c.extra("final_corpus_docs") = final_.count()
  } catch { case e: Throwable => c.fail("maintain:final_check", e) }
}

object Maintain {
  val CorpusDocs = 300
  val BatchDocs = 20
  val DeleteDocs = 2
  val ProbeDocs = 16
  val CheckDocs = 10
  val ProbeIdOffset = 1000000000L
  val VictimSeed = 17L
}
