package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.Manifest
import graft.similarity.IntKMeans
import graft.text.PhraseSearch

/** Serving beside maintenance on the two persisted index planes: two
  * reader clients and one writer client, all closed loop on the
  * engine's default scheduler. Readers replay a seeded stream of
  * phrase-plane serves (boolean search, phrase, BM25, NEAR/k, prefix)
  * and IVF serves (top-k, two-stage top-k); the writer replays a seeded
  * stream of append/upsert/delete batches on both planes from the
  * held-out set, calling `autoCompact` after each.
  *
  * A seeded sample of reads is checked after the run against the
  * in-process computation over the live rows of a snapshot the read
  * may have served: any snapshot committed while it ran (the harness
  * keeps the live rows of every committed snapshot). */
final class IndexWorkload(data: String, work: String) extends Workload {
  import IndexWorkload._

  private val streams: java.util.Map[String, AnyRef] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Paths.get(data, "streams.json").toFile, classOf[java.util.Map[String, AnyRef]])
  private def list(key: String): Seq[AnyRef] =
    streams.get(key).asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
  private def longs(x: AnyRef): Seq[Long] =
    x.asInstanceOf[java.util.List[AnyRef]].asScala.map(_.asInstanceOf[Number].longValue).toSeq
  private def strs(x: AnyRef): Seq[String] =
    x.asInstanceOf[java.util.List[AnyRef]].asScala.map(_.toString).toSeq
  private def field(m: AnyRef, k: String): AnyRef =
    m.asInstanceOf[java.util.Map[String, AnyRef]].get(k)

  private val heldDocs = longs(streams.get("held_docs"))
  private val heldVecs = longs(streams.get("held_vecs"))
  private val reads = list("reads")
  private val writes = list("writes")
  private val checked = longs(streams.get("checked")).map(_.toInt).toSet

  private var phraseDir = ""
  private var ivfDir = ""
  // the corpus, and the live rows of each committed snapshot (by seq)
  private var docs: Map[Long, String] = Map.empty
  private var vecs: Map[Long, Array[Float]] = Map.empty
  private var labels: Map[Long, Int] = Map.empty
  private val phraseAt = new ConcurrentHashMap[Long, Map[Long, String]]()
  private val ivfAt = new ConcurrentHashMap[Long, Map[Long, Array[Float]]]()
  private val samples = new ConcurrentLinkedQueue[Sample]()
  private var traced = false

  override def setup(spark: SparkSession, round: Int): Unit = {
    graft.queries.Q.tune(spark)
    // reader grace: a serve keeps reading the snapshot it resolved
    // while maintenance commits newer ones
    spark.conf.set("spark.graft.index.gcRetainVersions", "64")
    phraseDir = s"$work/index-$round/phrase"
    ivfDir = s"$work/index-$round/ivf"
    val d = graft.sources.Tables.documents(spark, data)
      .filter(!col("doc_id").isin(heldDocs: _*))
    PhraseSearch.writeIndex(toks(d), phraseDir, nBuckets = 64)
    val e = graft.sources.Tables.embeddings(spark, data)
      .filter(!col("vec_id").isin(heldVecs: _*))
    IntKMeans.writeIndex(e, ivfDir, nlist = Nlist, iters = 1)
  }

  private def warmRead(kind: String): AnyRef =
    reads.find(r => field(r, "op") == kind).get

  override def prepare(spark: SparkSession): Unit = {
    docs = graft.sources.Tables.documents(spark, data).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val emb = graft.sources.Tables.embeddings(spark, data).collect()
    vecs = emb.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    labels = emb.map(r => r.getLong(0) -> r.getInt(2)).toMap
    phraseAt.put(PhraseSearch.currentSeq(spark, phraseDir), docs -- heldDocs)
    ivfAt.put(IntKMeans.currentSeq(spark, ivfDir), vecs -- heldVecs)
    // warm-up: one serve of each kind
    ReadKinds.foreach(k => serve(spark, warmRead(k)).collect())
  }

  private def toks(d: DataFrame): DataFrame =
    d.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))

  private def docsDf(spark: SparkSession, m: Map[Long, String]): DataFrame = {
    import spark.implicits._
    m.toSeq.toDF("doc_id", "text")
  }

  private def vecDf(spark: SparkSession, m: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    m.map { case (i, v) => (i, v, labels(i)) }.toDF("vec_id", "embedding", "label")
  }

  private def isIvf(kind: String) = kind.startsWith("ivf")

  private def serve(spark: SparkSession, r: AnyRef): DataFrame = {
    val ws = Option(field(r, "words")).map(strs).getOrElse(Seq.empty)
    field(r, "op").toString match {
      case "search" => PhraseSearch.servedSearch(spark, phraseDir, field(r, "query").toString)
      case "phrase" => PhraseSearch.servedPhraseHits(spark, phraseDir, ws)
      case "bm25" => PhraseSearch.servedBm25TopK(spark, phraseDir, ws, k = 10)
      case "near" => PhraseSearch.servedProximityHits(spark, phraseDir, ws(0), ws(1),
        field(r, "k").asInstanceOf[Number].intValue)
      case "prefix" => PhraseSearch.servedPrefixDocs(spark, phraseDir, field(r, "prefix").toString)
      case "ivf" => IntKMeans.servedTopK(spark, ivfDir, queries(spark, r), k = K, nprobe = Nprobe)
      case "ivf2" => IntKMeans.servedTwoStageTopK(spark, ivfDir, queries(spark, r),
        k = K, kCand = KCand, prefixDim = PrefixDim, nprobe = Nprobe)
    }
  }

  /** Query vectors of a "more like this" read: the client sends the
    * embeddings of two corpus items. */
  private def queries(spark: SparkSession, r: AnyRef): DataFrame =
    vecDf(spark, longs(field(r, "ids")).map(i => i -> vecs(i))).select("vec_id", "embedding")

  private def planeDir(ivf: Boolean) = if (ivf) ivfDir else phraseDir
  private def mainComponent(ivf: Boolean) = if (ivf) "vectors" else "postings"

  override def run(spark: SparkSession, rec: Recorder, deadlineNs: Long): Unit = {
    traced = rec.tracer.nonEmpty
    def guarded(body: => Unit): Thread = new Thread(() =>
      try body catch { case e: Throwable => System.err.println(s"[perfbench] client died: $e") })
    val threads = (0 until Readers).map(c => guarded(reader(spark, rec, c, deadlineNs))) :+
      guarded(writer(spark, rec, deadlineNs))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** The clients stop issuing ops at the deadline, so throughput is
    * measured over the requested window, not over the drain after it. */
  override def window(seconds: Double, timedS: Double): Double = seconds

  private def reader(spark: SparkSession, rec: Recorder, client: Int, deadlineNs: Long): Unit = {
    var i = client
    while (System.nanoTime() < deadlineNs) {
      val r = reads(i % reads.size)
      val kind = field(r, "op").toString
      val ivf = isIvf(kind)
      val dir = planeDir(ivf)
      val check = i < reads.size && checked(i)
      val before = if (traced || check) Some(Manifest.load(spark, dir)) else None
      val extra = if (traced) Map("segments" -> before.get.segs(mainComponent(ivf)).size.toDouble)
                  else Map.empty[String, Double]
      var got: Array[Row] = Array.empty
      var cols: Array[String] = Array.empty
      val op = rec.run(kind, planeModule(ivf), client, extra)(serve(spark, r)) { df =>
        got = df.collect()
        cols = df.columns
        got.length.toLong
      }
      // the serve resolved one of the snapshots committed while it ran
      if (check && op.ok)
        samples.add(Sample(op.id, r, before.get.nextSeq, Manifest.load(spark, dir).nextSeq,
          cols, got))
      i += Readers
    }
  }

  private def writer(spark: SparkSession, rec: Recorder, deadlineNs: Long): Unit = {
    val it = writes.iterator
    while (System.nanoTime() < deadlineNs && it.hasNext) {
      val w = it.next()
      val ivf = field(w, "plane") == "ivf"
      val kind = field(w, "op").toString
      val ids = longs(field(w, "ids"))
      val dir = planeDir(ivf)
      var compactS = 0.0
      val op = rec.run(s"${if (ivf) "ivf" else "phrase"}.$kind", planeModule(ivf), Readers,
          Map("compact_s" -> compactS)) {
        // the batch, and the live rows once it is committed
        if (ivf) {
          val cur = ivfAt.get(IntKMeans.currentSeq(spark, dir))
          val rows = kind match {
            // an upsert re-encodes the vector: its negation
            case "upsert" => ids.map(i => i -> cur.getOrElse(i, vecs(i)).map(x => -x))
            case _ => ids.map(i => i -> vecs(i))
          }
          (vecDf(spark, rows), if (kind == "delete") cur -- ids else cur ++ rows)
        } else {
          val cur = phraseAt.get(PhraseSearch.currentSeq(spark, dir))
          val rows = kind match {
            case "upsert" => ids.zip(strs(field(w, "texts")))
            case _ => ids.map(i => i -> docs(i))
          }
          (docsDf(spark, rows.toMap), if (kind == "delete") cur -- ids else cur ++ rows)
        }
      } { case (df, next) =>
        (ivf, kind) match {
          case (true, "append") => IntKMeans.appendIndex(df, dir)
          case (true, "upsert") => IntKMeans.upsertIndex(df, dir)
          case (true, _) => IntKMeans.deleteFromIndex(df.select("vec_id"), dir)
          case (false, "append") => PhraseSearch.appendIndex(toks(df), dir)
          case (false, "upsert") => PhraseSearch.upsertIndex(toks(df), dir)
          case (false, _) => PhraseSearch.deleteFromIndex(df.select("doc_id"), dir)
        }
        val seq = Manifest.load(spark, dir).nextSeq
        next match {
          case m: Map[Long, Array[Float]] @unchecked if ivf => ivfAt.put(seq, m)
          case m: Map[Long, String] @unchecked => phraseAt.put(seq, m)
        }
        val t0 = System.nanoTime()
        if (ivf) IntKMeans.autoCompact(spark, dir, MaxSegments)
        else PhraseSearch.autoCompact(spark, dir, MaxSegments)
        compactS = (System.nanoTime() - t0) / 1e9
        ids.size.toLong
      }
      if (!op.ok) System.err.println(s"[perfbench] write ${op.kind} failed: ${op.error}")
    }
  }

  override def check(spark: SparkSession, ops: Seq[Op]): (Set[Long], Map[String, Any]) = {
    val all = samples.asScala.toSeq
    val bad = all.filterNot(s => safely(matches(spark, s))).map(_.op).toSet
    (bad, Map("checked_reads" -> all.size,
      "checked_under_maintenance" -> all.count(s => s.toSeq > s.fromSeq),
      "mismatches" -> bad.size,
      "mismatched_ops" -> bad.toSeq.sorted))
  }

  private def safely(b: => Boolean): Boolean =
    try b catch { case e: Throwable =>
      System.err.println(s"[perfbench] check error: $e"); false }

  private def key(r: Row): String = r.toSeq.map(String.valueOf).mkString("|")

  /** A read matches if it equals the reference at any snapshot
    * committed while it ran, the one it started on first. */
  private def matches(spark: SparkSession, s: Sample): Boolean = {
    val at = if (isIvf(field(s.read, "op").toString)) ivfAt else phraseAt
    val seqs = at.keySet.asScala.toSeq.filter(q => q >= s.fromSeq && q <= s.toSeq).sorted
    val got = s.rows.map(key).toSeq.sorted
    seqs.exists(q => reference(spark, s, q).sorted == got)
  }

  private def reference(spark: SparkSession, s: Sample, seq: Long): Seq[String] = {
    val kind = field(s.read, "op").toString
    if (isIvf(kind)) return ivfReference(spark, s.read, seq)
    val d = docsDf(spark, phraseAt.get(seq))
    val t = toks(d)
    val ws = Option(field(s.read, "words")).map(strs).getOrElse(Seq.empty)
    val ref = kind match {
      case "search" => PhraseSearch.search(field(s.read, "query").toString, t,
        t.select("doc_id").distinct())
      case "phrase" => PhraseSearch.phraseHits(t, ws)
      case "bm25" => PhraseSearch.bm25TopK(d, ws, 10)
      case "near" => PhraseSearch.proximityHits(t, ws(0), ws(1),
        field(s.read, "k").asInstanceOf[Number].intValue)
      case "prefix" => t.filter(col("tok").startsWith(field(s.read, "prefix").toString))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    }
    ref.select(s.cols.map(col).toSeq: _*).collect().map(key).toSeq
  }

  /** The IVF serve recomputed on the driver from the snapshot's live
    * vectors: int8 quantization on the stored scale, nearest stored
    * centroid by integer squared L2 (ties to the lower cell), the
    * `nprobe` nearest cells per query, exact integer dot ranking
    * (desc, vec_id), and for the two-stage serve a prefix-dot
    * candidate cut first. */
  private def ivfReference(spark: SparkSession, read: AnyRef, seq: Long): Seq[String] = {
    val m = Manifest.load(spark, ivfDir)
    val ma = m.scalar("ma").toDouble
    val cents = Manifest.readComponent(spark, ivfDir, m, "centroids").get
      .select(col("cell").cast("long"), col("c")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def quant(v: Array[Float]): Array[Double] = v.map(x =>
      BigDecimal(x.toDouble * 127.0d / ma).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble)
    def sq(a: Array[Double], b: Array[Double]): Long = {
      var t = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); t += d * d; i += 1 }
      t.toLong
    }
    def dot(a: Array[Double], b: Array[Double], n: Int): Long = {
      var t = 0.0; var i = 0
      while (i < n) { t += a(i) * b(i); i += 1 }
      t.toLong
    }
    def nearest(q: Array[Double], n: Int): Seq[Long] =
      cents.map { case (c, v) => (sq(q, v), c) }.sortBy(identity).take(n).map(_._2).toSeq
    val live = ivfAt.get(seq).toSeq.map { case (id, v) => (id, quant(v)) }
      .map { case (id, q) => (id, q, nearest(q, 1).head) }
    val two = field(read, "op") == "ivf2"
    longs(field(read, "ids")).flatMap { qid =>
      val qq = quant(vecs(qid))
      val probed = nearest(qq, Nprobe).toSet
      val cand = live.filter { case (id, _, c) => probed(c) && id != qid }
      val pool =
        if (!two) cand
        else cand.map { case (id, q, c) => (dot(q, qq, PrefixDim), id, q, c) }
          .sortBy { case (p, id, _, _) => (-p, id) }.take(KCand).map(x => (x._2, x._3, x._4))
      pool.map { case (id, q, _) => (dot(q, qq, q.length), id) }
        .sortBy { case (d, id) => (-d, id) }.take(K).zipWithIndex
        .map { case ((d, id), rank) => s"$qid|$id|${rank + 1}|$d" }
    }
  }

  override def endToEnd: Map[String, Double] =
    Map("index_bytes" -> (du(Paths.get(phraseDir)) + du(Paths.get(ivfDir))).toDouble)

  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

object IndexWorkload {
  /** A checked read: it served one of the snapshots `fromSeq..toSeq`. */
  final case class Sample(op: Long, read: AnyRef, fromSeq: Long, toSeq: Long,
                          cols: Array[String], rows: Array[Row])

  val Readers = 2
  val Nlist = 16
  val Nprobe = 4
  val K = 10
  val KCand = 50
  val PrefixDim = 16
  val MaxSegments = 3
  val ReadKinds = Seq("search", "phrase", "bm25", "near", "prefix", "ivf", "ivf2")

  def planeModule(ivf: Boolean): String =
    if (ivf) "graft.similarity.IntKMeans" else "graft.text.PhraseSearch"
}
