package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.{CheckpointPolicy, Graph}
import graft.dedup.DedupIndex
import graft.similarity.AnnIndex
import graft.sources.GraphIO

/** Writes beside reads on the three persisted stores. Each pass appends
  * a batch to each store, probes it, deletes the same batch and probes
  * again, so every pass starts from the state set-up built. Every probe
  * and every table at pass end is checked against in-memory models. */
final class StoreLifecycle(seed: Long) extends Workload {
  // graph store: 600 + 24 isolated vertices, 3600 undirected edges
  // (under the cap); batch: 24 edges attaching the isolated vertices +
  // 96 edges inside the giant component, so 20% of the 120 edge deletes
  // per pass cut the spanning forest
  val storeVertices = 600
  val storeEdges = 3600
  val isolated = 24
  val extraEdges = 96
  // dedup: 800 documents (10% exact, 10% near copies), batch 40
  val docs = 800
  val docBatch = 40
  val jaccardThreshold = 0.7
  // ann: 2000 16-d vectors around 8 centres, 8 cells, batch 100
  val vectors = 2000
  val dim = 16
  val cells = 8
  val vecBatch = 100
  val topK = 10
  val recallFloor = 0.8

  private var gen = 0
  private def gName = s"pbg$gen"
  private def dName = s"pbd$gen"
  private def aName = s"pba$gen"

  private var st: Gen.Store = _
  private var sidOf: Map[String, Long] = Map.empty
  private var baseEdges: Set[(String, String)] = Set.empty
  private var baseAdj: Ref.Adj = _
  // the rank table's model: cold rounds at build, warm rounds per refresh
  private var ranks: Array[Double] = Array.empty
  val buildRounds = 1
  val refreshRounds = 1
  private var corpus: Gen.Corpus = _
  private var docBatchRows: Array[(Long, String)] = Array.empty
  private var items: Array[(Long, Array[Float])] = Array.empty
  private var vecBatchRows: Array[(Long, Array[Float])] = Array.empty
  private var queries: Array[(Long, Array[Float])] = Array.empty
  private var streamN = 0

  // logical bytes of the stored content and of one pass's batches
  private def strBytes(s: String) = s.getBytes("UTF-8").length.toDouble
  private def graphBatchBytes = (st.attach ++ st.extra).map { case (a, b) => strBytes(a) + strBytes(b) }.sum
  private def docBatchBytes = docBatchRows.map { case (_, t) => 8 + strBytes(t) }.sum
  private def vecBatchBytes = vecBatchRows.length * (8.0 + 4 * dim)
  override def batchMb: Map[String, Double] = Map(
    "sources" -> graphBatchBytes / (1 << 20), "dedup" -> docBatchBytes / (1 << 20),
    "similarity" -> vecBatchBytes / (1 << 20))

  def setup(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    gen += 1
    val rnd = new Random(seed)
    st = Gen.store(rnd, storeVertices, storeEdges, isolated, extraEdges)
    sidOf = st.base.names.toSeq.toDF("n").select(col("n"), xxhash64(col("n").cast("string")))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    baseEdges = st.base.edges.map { case (a, b) => (st.base.names(a), st.base.names(b)) }.toSet
    baseAdj = new Ref.Adj(st.base.n, st.base.edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }, reverse = false)
    ranks = Ref.pageRank(baseAdj, buildRounds)
    corpus = Gen.corpus(rnd, docs, 1L, 0.1, 0.1)
    docBatchRows = Gen.corpus(rnd, docBatch, 1000000L, 0.35, 0.35, corpus.docs.toSeq).docs
    val centres = Gen.centres(rnd, cells, dim)
    items = Gen.embeddings(rnd, centres, vectors, 1L)
    vecBatchRows = Gen.embeddings(rnd, centres, vecBatch, 1000000L)
    queries = Gen.embeddings(rnd, centres, 8, -100L)

    r.call("sources.graph_build", "write") {
      val g = Graph.index(st.base.names.toSeq.toDF("id"), baseEdges.toSeq.toDF("src", "dst"), directed = false)
      GraphIO.writeBucketed(g, gName, buckets = 4)
      GraphIO.buildComponents(spark, gName)
      GraphIO.buildForest(spark, gName)
      GraphIO.buildRanks(spark, gName, maxIterations = buildRounds)
    }(_ => checkGraphTables(r, baseEdges) ++ checkRanks(r, baseNames))
    r.call("dedup.build", "write") {
      val idx = DedupIndex.build(corpus.docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        checkpoint = CheckpointPolicy.Passthrough)
      DedupIndex.writeBucketed(idx, dName, numBuckets = 4)
    }(_ => checkClusters(r, corpus.docs.toMap))
    r.call("similarity.ann_build", "write") {
      val idx = AnnIndex.build(items.toSeq.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "v"),
        "vec_id", "v", k = cells, maxIterations = 2, fitSampleSize = 400,
        checkpoint = CheckpointPolicy.Passthrough)
      AnnIndex.writePartitioned(idx, aName)
    }(_ => Nil)
  }

  override def teardown(r: Run): Unit =
    r.spark.catalog.listTables().collect().map(_.name)
      .filter(t => Seq(gName, dName, aName).exists(p => t.startsWith(p + "_")))
      .foreach(t => r.spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  // no warm-up pass: the store builds already run the writers, joins and
  // rank rounds the pass runs, and a warm-up pass (about 30 s at 4 cores)
  // does not fit the benchmark's time budget; the calls of a second pass
  // took 7-15 % less than those of the first
  def warmUp(r: Run): Unit = ()
  /** An op is one public call, a mutation or a read probe. The graph
    * store is probed before and after each of its mutations: 30 of a
    * pass's 44 ops are these probes, so the median is a graph probe and
    * the p90 a mutation, not a boundary between unlike calls. */
  def opKinds: Seq[String] = Seq("write", "read")
  override def setupRepeats: Int = 1

  private def baseNames: Seq[String] = st.base.names.toSeq

  def pass(r: Run): Unit = {
    graphPass(r)
    dedupPass(r)
    annPass(r)
  }

  // ---------------- graph store ----------------

  private def graphPass(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val batch = (st.attach ++ st.extra).toSeq
    probeGraph(r, baseEdges)
    r.call("sources.graph_append", "write")(
      GraphIO.appendEdges(spark, gName, batch.toDF("src", "dst")))(_ => Nil)
    probeGraph(r, baseEdges ++ batch)
    r.call("sources.graph_delete", "write")(
      GraphIO.deleteEdges(spark, gName, batch.toDF("src", "dst")))(_ => Nil)
    probeGraph(r, baseEdges)
    r.call("sources.graph_refresh", "write")(GraphIO.refreshLabels(spark, gName))(_ => Nil)
    probeGraph(r, baseEdges)
    r.call("sources.graph_refresh", "write")(
      GraphIO.refreshRanks(spark, gName, maxIterations = refreshRounds, tolerance = None))(_ => Nil)
    ranks = Ref.pageRank(baseAdj, refreshRounds, init = Some(ranks))
    probeGraph(r, baseEdges)
    r.verify("sources.graph_read")(checkGraphTables(r, baseEdges) ++ checkRanks(r, baseNames))
  }

  /** Weak components of the model, labelled by minimum surrogate id. */
  private def modelLabels(vs: Seq[String], es: Iterable[(String, String)]): Map[String, Long] = {
    val ix = vs.zipWithIndex.toMap
    val classes = Ref.weakComponents(vs.size, es.map { case (a, b) => (ix(a), ix(b)) })
    val min = mutable.HashMap.empty[Int, Long]
    vs.indices.foreach(i => min(classes(i)) = math.min(min.getOrElse(classes(i), Long.MaxValue), sidOf(vs(i))))
    vs.indices.map(i => vs(i) -> min(classes(i))).toMap
  }

  private def modelDegrees(es: Iterable[(String, String)]): Map[Long, (Long, Long)] = {
    val d = mutable.HashMap.empty[Long, (Long, Long)].withDefaultValue((0L, 0L))
    es.foreach { case (a, b) =>
      val (o, i) = d(sidOf(a)); d(sidOf(a)) = (o + 1, i)
      val (o2, i2) = d(sidOf(b)); d(sidOf(b)) = (o2, i2 + 1)
    }
    d.toMap
  }

  /** Point probes of components, degrees and ranks, once for the
    * attachable vertices and once for giant-component endpoints. */
  private def probeGraph(r: Run, es: Set[(String, String)]): Unit = {
    val labels = modelLabels(baseNames, es)
    val degrees = modelDegrees(es)
    val attached = st.attach.take(4).map(_._2).toSeq
    val inner = st.extra.take(6).flatMap { case (a, b) => Seq(a, b) }.toSeq
    Seq(attached, inner).foreach { names =>
      val ids = names.map(sidOf)
      def probe(t: DataFrame) = t.filter(col("id").isin(ids: _*)).collect()
      r.call("sources.graph_read", "read")(probe(GraphIO.readComponents(r.spark, gName))) { rows =>
        val got = rows.map(x => x.getLong(0) -> x.getLong(1)).toMap
        val want = names.map(n => sidOf(n) -> labels(n)).toMap
        if (got != want) Seq(s"component probe: ${got.size} rows, ${(want.toSet -- got.toSet).size} differ") else Nil
      }
      r.call("sources.graph_read", "read")(probe(GraphIO.readDegrees(r.spark, gName))) { rows =>
        val got = rows.map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap.filter(_._2 != ((0L, 0L)))
        val want = ids.flatMap(i => degrees.get(i).map(i -> _)).toMap
        if (got != want) Seq(s"degree probe differs from the edge-set model") else Nil
      }
      r.call("sources.graph_read", "read")(probe(GraphIO.readRanks(r.spark, gName)))(checkRankRows(_, names))
    }
  }

  private def checkGraphTables(r: Run, es: Set[(String, String)]): Seq[String] = {
    val labels = modelLabels(baseNames, es).map { case (n, l) => sidOf(n) -> l }
    val comps = GraphIO.readComponents(r.spark, gName).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val degs = GraphIO.readDegrees(r.spark, gName).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap.filter(_._2 != ((0L, 0L)))
    (if (comps != labels) Seq(s"component table differs from the model (${comps.size} vs ${labels.size} rows)") else Nil) ++
      (if (degs != modelDegrees(es)) Seq("degree table differs from the model") else Nil)
  }

  private def checkRankRows(rows: Array[Row], names: Seq[String]): Seq[String] = {
    val got = rows.map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val ix = st.base.index
    val bad = names.filter { n =>
      val want = ranks(ix(n))
      got.get(sidOf(n)).forall(v => math.abs(v - want) > 1e-12 + 1e-6 * want)
    }
    if (bad.nonEmpty) Seq(s"${bad.size} ranks missing or off the power iteration by > 1e-6 relative") else Nil
  }

  private def checkRanks(r: Run, names: Seq[String]): Seq[String] =
    checkRankRows(GraphIO.readRanks(r.spark, gName).collect(), names)

  // ---------------- dedup store ----------------

  private def dedupPass(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val base = corpus.docs.toMap
    val merged = base ++ docBatchRows
    r.call("dedup.merge", "write")(
      DedupIndex.mergeBucketed(spark, dName, docBatchRows.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        numBuckets = 4))(_ => Nil)
    probeDedup(r, merged)
    r.call("dedup.delete", "write")(
      DedupIndex.deleteBucketed(spark, dName, docBatchRows.map(_._1).toSeq.toDF("doc_id"), "doc_id",
        numBuckets = 4))(_ => Nil)
    probeDedup(r, base)
    r.verify("dedup.read")(checkClusters(r, base))
  }

  /** Exact-duplicate groups of a corpus model: text -> sorted ids. */
  private def groups(docs: Map[Long, String]): Map[Long, Seq[Long]] =
    docs.groupBy(_._2).values.map(g => g.keys.toSeq.sorted).map(ids => ids.head -> ids).toMap

  private def probeDedup(r: Run, docs: Map[Long, String]): Unit = {
    val g = groups(docs)
    val planted = g.filter(_._2.size > 1).keys.toSeq.sorted.take(8)
    r.call("dedup.read", "read")(
      DedupIndex.readBucketed(r.spark, dName).clusters
        .filter(col("keep_id").isin(planted: _*)).select("keep_id", "ids").collect()) { rows =>
      val got = rows.map(x => x.getLong(0) -> x.getSeq[Long](1).sorted).toMap
      if (got != planted.map(k => k -> g(k)).toMap) Seq("planted exact-duplicate clusters differ") else Nil
    }
    r.call("dedup.read", "read")(
      DedupIndex.readBucketed(r.spark, dName).pairs(jaccardThreshold).collect()) { rows =>
      val sh = mutable.HashMap.empty[Long, Set[String]]
      def s(id: Long) = sh.getOrElseUpdate(id, Ref.shingles(docs(id)))
      val bad = rows.filter { x =>
        val a = x.getLong(0); val b = x.getLong(1)
        !docs.contains(a) || !docs.contains(b) || Ref.jaccard(s(a), s(b)) < jaccardThreshold - 1e-12
      }
      if (bad.nonEmpty) Seq(s"${bad.length} reported pairs are below the Jaccard threshold or name absent docs")
      else if (rows.isEmpty) Seq("no near-duplicate pairs reported")
      else Nil
    }
  }

  private def checkClusters(r: Run, docs: Map[Long, String]): Seq[String] = {
    val got = DedupIndex.readBucketed(r.spark, dName).clusters.select("keep_id", "ids").collect()
      .map(x => x.getLong(0) -> x.getSeq[Long](1).sorted).toMap
    if (got != groups(docs)) Seq(s"cluster table differs from the exact-duplicate model (${got.size} vs ${groups(docs).size})")
    else Nil
  }

  // ---------------- ann store ----------------

  private def annPass(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = items.toMap
    val near = vecBatchRows.take(4).map { case (i, v) => (-i, v) }
    r.call("similarity.ann_append", "write") {
      val stream = MemoryStream[(Long, Seq[Float])]
      streamN += 1
      val q = AnnIndex.appendStream(stream.toDF().toDF("vec_id", "v"), "vec_id", "v", aName)
        .option("checkpointLocation", s"${r.workDir}/stream/ann$streamN").start()
      try {
        stream.addData(vecBatchRows.toSeq.map { case (i, v) => (i, v.toSeq) })
        q.processAllAvailable()
      } finally q.stop()
    }(_ => Nil)
    probeAnn(r, base ++ vecBatchRows, Set.empty, queries ++ near)
    r.call("similarity.ann_delete", "write")(
      AnnIndex.deletePartitioned(spark, aName, vecBatchRows.map(_._1).toSeq.toDF("vec_id"), "vec_id"))(_ => Nil)
    probeAnn(r, base, vecBatchRows.map(_._1).toSet, queries ++ near)
  }

  private def probeAnn(r: Run, live: Map[Long, Array[Float]], deleted: Set[Long],
      qs: Array[(Long, Array[Float])]): Unit = {
    val spark = r.spark
    import spark.implicits._
    r.call("similarity.ann_read", "read")(
      AnnIndex.readPartitioned(spark, aName)
        .topK(qs.toSeq.map { case (i, v) => (i, v.toSeq) }.toDF("q", "v"), "q", "v", k = topK, nprobe = 3)
        .select("qid", "nid").collect()) { rows =>
      val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val ghosts = got.values.flatten.count(i => deleted(i) || !live.contains(i))
      val recall = qs.map { case (q, v) =>
        val want = Ref.topK(v, live, topK, q).toSet
        (want & got.getOrElse(q, Set.empty)).size.toDouble / want.size
      }.sum / qs.length
      (if (ghosts > 0) Seq(s"$ghosts returned ids are deleted or unknown") else Nil) ++
        (if (recall < recallFloor) Seq(f"recall@$topK $recall%.3f below $recallFloor") else Nil)
    }
  }

  // ---------------- sizes ----------------

  override def layerExtras(r: Run): Map[String, (Double, String)] = {
    val root = new java.io.File(s"${r.workDir}/warehouse")
    val tables = Option(root.listFiles()).toSeq.flatten
      .filter(f => Seq(gName, dName, aName).exists(p => f.getName.startsWith(p + "_")))
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val data = tables.flatMap(files).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    val logical = baseNames.map(strBytes).sum + baseEdges.toSeq.map { case (a, b) => strBytes(a) + strBytes(b) }.sum +
      corpus.docs.map { case (_, t) => 8 + strBytes(t) }.sum + items.length * (8.0 + 4 * dim)
    Map(
      "store.files" -> (data.size.toDouble, "count"),
      "store.bytes_ratio" -> (data.map(_.length).sum / logical, "ratio"))
  }
}
