package graft

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.{KnnHnsw, KnnTopK}
import graft.sources.Tables

/** The NSW kernel as it stood before its bookkeeping went primitive
  * (boxed tuple priority queues, a hash set of visited nodes, a copied
  * adjacency array per reverse edge): the reference the primitive kernel
  * must match bit for bit. */
private final class ReferenceNsw(m: Int, efConstruction: Int) {
  private val mMax = 2 * m
  val ids = new mutable.ArrayBuffer[Long]
  val vecs = new mutable.ArrayBuffer[Array[Float]]
  val adj = new mutable.ArrayBuffer[Array[Int]]

  def searchBeam(q: Array[Float], ef: Int,
      allowed: Int => Boolean = _ => true): IndexedSeq[(Double, Int)] =
    searchBeamWith(i => KnnHnsw.cosineDist(q, vecs(i)), ef, allowed)

  def searchBeamWith(distFn: Int => Double, ef: Int,
      allowed: Int => Boolean = _ => true): IndexedSeq[(Double, Int)] = {
    if (ids.isEmpty) return IndexedSeq.empty
    val byFar = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
      .on[(Double, Int)] { case (d, i) => (d, ids(i)) }
    val candidates = mutable.PriorityQueue.empty[(Double, Int)](byFar.reverse)
    val results = mutable.PriorityQueue.empty[(Double, Int)](byFar)
    val visited = new java.util.HashSet[Int]
    val d0 = distFn(0)
    visited.add(0); candidates.enqueue((d0, 0))
    if (allowed(0)) results.enqueue((d0, 0))
    while (candidates.nonEmpty &&
           !(results.size >= ef && byFar.gt(candidates.head, results.head))) {
      val (_, c) = candidates.dequeue()
      val nbs = adj(c)
      var i = 0
      while (i < nbs.length) {
        val nb = nbs(i)
        if (visited.add(nb)) {
          val d = distFn(nb)
          if (results.size < ef || byFar.lt((d, nb), results.head)) {
            candidates.enqueue((d, nb))
            if (allowed(nb)) {
              results.enqueue((d, nb))
              if (results.size > ef) results.dequeue()
            }
          }
        }
        i += 1
      }
    }
    results.dequeueAll.reverse.toIndexedSeq
  }

  def insert(id: Long, vec: Array[Float]): Unit = {
    val idx = ids.length
    ids += id; vecs += vec; adj += Array.emptyIntArray
    if (idx == 0) return
    val near = searchBeam(vec, efConstruction).take(m).map(_._2).toArray
    adj(idx) = near
    near.foreach { nb =>
      val grown = adj(nb) :+ idx
      adj(nb) =
        if (grown.length <= mMax) grown
        else grown
          .map(x => (KnnHnsw.cosineDist(vecs(nb), vecs(x)), x))
          .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
            .on[(Double, Int)] { case (d, i) => (d, i) })
          .take(mMax).map(_._2)
    }
  }
}

/** The sharded-NSW contract: deterministic build, connected shard
  * graphs, exact results at exhaustive beam width, useful recall at
  * bounded beam width. */
class KnnHnswSpec extends SparkSuite {

  private lazy val corpus = Tables.embeddings(spark, sfDir)
  private lazy val queries = Tables.defaultQueries(spark, sfDir)
  private lazy val graph = KnnHnsw.build(corpus, numShards = 4)

  /** (shard, vec_id) -> (local_idx, neighbor local indices) — the full
    * persisted graph structure. */
  private def structureOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Int]("shard"), r.getAs[Long]("vec_id")) ->
      ((r.getAs[Int]("local_idx"), r.getSeq[Int](r.fieldIndex("neighbor_idx"))))).toMap

  test("build is deterministic: two builds emit identical adjacency") {
    val a = structureOf(KnnHnsw.build(corpus, numShards = 4))
    val b = structureOf(KnnHnsw.build(corpus, numShards = 4))
    assert(a === b)
  }

  test("every shard graph is connected and degree-capped at 2m") {
    val byShard = graph.collect()
      .map(r => (r.getAs[Int]("shard"), r.getAs[Int]("local_idx"),
        r.getSeq[Int](r.fieldIndex("neighbor_idx"))))
      .groupBy(_._1)
    assert(byShard.size === 4)
    byShard.foreach { case (shard, rows) =>
      val adj = rows.map(r => r._2.toLong -> r._3.map(_.toLong).toSeq).toMap
      adj.values.foreach(nbs => assert(nbs.length <= 16, s"shard $shard degree"))
      // BFS from the lowest id must reach every node (edges are mutual
      // by construction; pruning keeps the cap, not the symmetry, so
      // walk the undirected closure)
      val undirected = new mutable.HashMap[Long, mutable.Set[Long]]
      adj.foreach { case (id, nbs) =>
        nbs.foreach { nb =>
          undirected.getOrElseUpdate(id, mutable.Set.empty) += nb
          undirected.getOrElseUpdate(nb, mutable.Set.empty) += id
        }
      }
      val seen = mutable.Set(adj.keys.min)
      val frontier = mutable.Queue(adj.keys.min)
      while (frontier.nonEmpty) {
        val cur = frontier.dequeue()
        undirected.getOrElse(cur, Set.empty).foreach { nb =>
          if (seen.add(nb)) frontier.enqueue(nb)
        }
      }
      assert(seen.size === adj.size, s"shard $shard disconnected")
    }
  }

  test("exhaustive beam width recovers the exact top-k id set per query") {
    val n = corpus.count().toInt
    val exact = KnnTopK.knnExact(queries, corpus, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaGraph = KnnHnsw.search(graph, queries, k = 5, efQuery = n).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaGraph === exact)
  }

  test("bounded beam width keeps the self-match and good recall") {
    val res = KnnHnsw.search(graph, queries, k = 5, efQuery = 32).collect()
    // rank 1 = the query itself at distance 0 (queries are corpus rows)
    res.filter(_.getLong(3) == 1L).foreach { r =>
      assert(r.getLong(1) === r.getLong(0))
      assert(r.getDouble(2) === 0.0)
    }
    val exact = KnnTopK.knnExact(queries, corpus, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = res.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@5 $recall at ef=32")
  }

  test("searchMulti per-ef rows equal search at that ef (the sweep-sharing contract)") {
    val efs = Seq(4, 8, 16, 32, 64)
    // a tombstoned graph pins the shared `allowed` filter for the sweep too
    val marked = KnnHnsw.markDeleted(graph,
      corpus.select(col("vec_id")).filter(col("vec_id") % 3 === 0))
    Seq("plain" -> graph, "tombstoned" -> marked).foreach { case (label, g) =>
      val multi = KnnHnsw.searchMulti(g, queries, k = 5, efs)
        .select(col("ef"), col("query_id"), col("match_id"), col("score"), col("rank"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
        .toSet
      val single = efs.flatMap { ef =>
        KnnHnsw.search(g, queries, k = 5, efQuery = ef)
          .collect()
          .map(r => (ef.toLong, r.getAs[Long]("query_id"), r.getAs[Long]("match_id"),
            r.getAs[Double]("score"), r.getAs[Long]("rank")))
      }.toSet
      assert(multi === single, label)
    }
  }

  test("bq beam: exhaustive pool reranks to exactly the exact top-k (ids AND scores)") {
    // with ef = n the Hamming beam pool is the whole shard corpus, so the
    // exact-cosine rerank IS the exact computation — routing quality is
    // out of the picture and the result must match bit-for-bit
    val n = corpus.count().toInt
    val exact = KnnTopK.knnExact(queries, corpus, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaBq = KnnHnsw.searchBq(graph, queries, k = 5, efQuery = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaBq === exact)
  }

  test("bq beam at bounded ef keeps the self-match and useful recall") {
    val res = KnnHnsw.searchBq(graph, queries, k = 5, efQuery = 48).collect()
    // the query is a corpus row: its Hamming distance to itself is 0, so
    // the beam admits it and the exact rerank pins it at rank 1
    res.filter(_.getLong(3) == 1L).foreach { r =>
      assert(r.getLong(1) === r.getLong(0))
      assert(r.getDouble(2) === 0.0)
    }
    val exact = KnnTopK.knnExact(queries, corpus, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = res.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, s"bq recall@5 $recall at ef=48")
  }

  test("bq beam respects tombstones (deleted rows route but never surface)") {
    val deleted = corpus.select(col("vec_id")).filter(col("vec_id") % 5 === 0)
    val n = corpus.count().toInt
    val served = KnnHnsw.searchBq(
      KnnHnsw.markDeleted(graph, deleted), queries, k = 5, efQuery = n).collect()
    val deletedIds = deleted.collect().map(_.getLong(0)).toSet
    assert(!served.exists(r => deletedIds.contains(r.getLong(1))))
    val exact = KnnTopK.knnExact(queries,
      corpus.filter(col("vec_id") % 5 =!= 0), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet === exact)
  }

  test("appendTo equals a from-scratch rebuild, touched shards only") {
    val base = corpus.filter(col("vec_id") % 3 =!= 0)
    val delta = corpus.filter(col("vec_id") % 3 === 0)
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_append_$sfKey"
    KnnHnsw.save(KnnHnsw.build(base, numShards = 4), path)
    KnnHnsw.appendTo(spark, path, delta, numShards = 4)
    // deterministic per-shard build over the shard's id set means the
    // appended index is bit-identical to building the union from scratch
    val appended = structureOf(KnnHnsw.load(spark, path))
    val scratch = structureOf(KnnHnsw.build(corpus, numShards = 4))
    assert(appended === scratch)
    // upsert last-wins: re-appending existing ids must not duplicate rows
    KnnHnsw.appendTo(spark, path, delta, numShards = 4)
    assert(KnnHnsw.load(spark, path).count() === corpus.count())
  }

  test("tombstoned rows route the beam but never surface (mark_deleted semantics)") {
    val deleted = corpus.select(col("vec_id")).filter(col("vec_id") % 3 === 0)
    val marked = KnnHnsw.markDeleted(graph, deleted)
    val n = corpus.count().toInt
    val served = KnnHnsw.search(marked, queries, k = 5, efQuery = n)
    val servedIds = served.select("match_id").distinct()
      .collect().map(_.getLong(0)).toSet
    // hard exclusion: no tombstoned id in any result list
    assert(servedIds.forall(_ % 3 != 0))
    // exhaustive filtered beam == exact top-k over the LIVE corpus (the
    // graph, including its tombstoned nodes' edges, still reaches every
    // live node)
    val exact = KnnTopK.knnExact(queries,
        corpus.filter(col("vec_id") % 3 =!= 0), k = 5)
      .select("query_id", "match_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = served.select("query_id", "match_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === exact)
    // marking is cumulative: a second mark ORs into the first
    val more = KnnHnsw.markDeleted(marked,
      corpus.select(col("vec_id")).filter(col("vec_id") % 3 === 1))
    val left = KnnHnsw.search(more, queries, k = 5, efQuery = n)
      .select("match_id").distinct().collect().map(_.getLong(0)).toSet
    assert(left.forall(id => id % 3 != 0 && id % 3 != 1))
    // an unmarked graph is untouched by the deleted-column plumbing
    val plain = KnnHnsw.search(graph, queries, k = 5, efQuery = n)
      .select("query_id", "match_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exactAll = KnnTopK.knnExact(queries, corpus, k = 5)
      .select("query_id", "match_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(plain === exactAll)
  }

  test("compact purges tombstones by rebuilding only touched shards") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_compact_$sfKey"
    val deleted = corpus.select(col("vec_id")).filter(col("vec_id") % 5 === 0)
    KnnHnsw.save(KnnHnsw.markDeleted(KnnHnsw.build(corpus, numShards = 4), deleted), path)
    // tombstones survive the save/load round-trip
    assert(KnnHnsw.load(spark, path).filter(col("deleted")).count() ===
      corpus.filter(col("vec_id") % 5 === 0).count())
    KnnHnsw.compact(spark, path, numShards = 4)
    val compacted = KnnHnsw.load(spark, path)
    assert(compacted.filter(col("deleted")).count() === 0L)
    // deterministic per-shard builds: the compacted index IS the
    // from-scratch build of the live corpus
    val live = corpus.filter(col("vec_id") % 5 =!= 0)
    assert(structureOf(compacted) === structureOf(KnnHnsw.build(live, numShards = 4)))
    // idempotent: a second compact is a no-op
    KnnHnsw.compact(spark, path, numShards = 4)
    assert(structureOf(KnnHnsw.load(spark, path)) ===
      structureOf(KnnHnsw.build(live, numShards = 4)))
    // append after compact keeps the lifecycle closed: re-adding the
    // purged rows rebuilds back to the full-corpus structure
    KnnHnsw.appendTo(spark, path,
      corpus.filter(col("vec_id") % 5 === 0), numShards = 4)
    assert(structureOf(KnnHnsw.load(spark, path)) ===
      structureOf(KnnHnsw.build(corpus, numShards = 4)))
  }

  test("upsert into a tombstoned graph keeps survivor flags and revives upserted ids") {
    import graft.operators.Versioned
    val tmp = tempDir("graft_hnsw_upsert_dead")
    val n = corpus.count().toInt
    val deleted = corpus.select(col("vec_id")).filter(col("vec_id") % 5 === 0)
    // re-upsert half of the tombstoned ids; the other half stay dead
    val revived = corpus.filter(col("vec_id") % 10 === 0)
    val inPlace = s"$tmp/in_place"
    KnnHnsw.save(KnnHnsw.markDeleted(KnnHnsw.build(corpus, numShards = 4), deleted), inPlace)
    KnnHnsw.appendTo(spark, inPlace, revived, numShards = 4)
    val versioned = s"$tmp/versioned"
    KnnHnsw.saveVersioned(KnnHnsw.build(corpus, numShards = 4), versioned, 4)
    KnnHnsw.markDeletedVersioned(spark, versioned, deleted)
    KnnHnsw.appendToVersioned(spark, versioned, revived, numShards = 4)
    val exactLive = KnnTopK.knnExact(queries,
        corpus.filter(col("vec_id") % 10 =!= 5), k = 5)
      .select("query_id", "match_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Seq("appendTo" -> KnnHnsw.load(spark, inPlace),
        "appendToVersioned" -> KnnHnsw.loadVersioned(spark, versioned))
      .foreach { case (label, g) =>
        val flags = g.collect()
          .map(r => (r.getAs[Int]("shard"), r.getAs[Long]("vec_id"), r.getAs[Boolean]("deleted")))
        val touched = flags.filter(_._2 % 10 == 0).map(_._1).toSet
        val dead = flags.filter(_._2 % 10 == 5)
        // the batch rebuilt shards that hold still-tombstoned survivors ...
        assert(dead.exists(d => touched.contains(d._1)), label)
        // ... and those survivors kept their flag through the rebuild
        assert(dead.forall(_._3), label)
        assert(flags.filter(_._2 % 10 == 0).forall(!_._3), s"$label: upsert revives")
        assert(flags.count(!_._3) === flags.count(_._2 % 10 != 5), label)
        val got = KnnHnsw.search(g, queries, k = 5, efQuery = n)
          .select("query_id", "match_id", "score").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(got === exactLive, label)
      }
    assert(Versioned.versions(spark, versioned) === Seq(0, 1, 2))
  }

  test("save/load round-trips the graph and searches identically") {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_hnsw_spec_$sfKey"
    KnnHnsw.save(graph, path)
    val loaded = KnnHnsw.load(spark, path)
    // restored == rebuilt: the persisted local-index layout must carry
    // the IDENTICAL graph structure the in-session build produced (the
    // array-placement restore in search depends on exactly this)
    assert(structureOf(loaded) === structureOf(graph))
    val a = KnnHnsw.search(graph, queries, k = 3, efQuery = 32).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).sorted.toSeq
    val b = KnnHnsw.search(loaded, queries, k = 3, efQuery = 32).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).sorted.toSeq
    assert(a === b)
  }

  test("versioned graph: commits linearize, appendTo == scratch, lifecycle closed") {
    import graft.operators.Versioned
    val path = tempDir("graft_hnsw_ver") + "/g"
    val base = corpus.filter(col("vec_id") % 3 =!= 0)
    val delta = corpus.filter(col("vec_id") % 3 === 0)
    assert(KnnHnsw.saveVersioned(KnnHnsw.build(base, numShards = 4), path, 4) === 0)
    // versioned append == from-scratch rebuild (deterministic shards)
    assert(KnnHnsw.appendToVersioned(spark, path, delta, numShards = 4) === 1)
    assert(structureOf(KnnHnsw.loadVersioned(spark, path)) ===
      structureOf(KnnHnsw.build(corpus, numShards = 4)))
    // time travel: v0 is still the base-corpus graph
    assert(structureOf(KnnHnsw.loadVersioned(spark, path, Some(0))) ===
      structureOf(KnnHnsw.build(base, numShards = 4)))
    // tombstone as a commit: marked ids route but never surface
    val doomed = corpus.filter(col("vec_id") % 5 === 0).select("vec_id")
    assert(KnnHnsw.markDeletedVersioned(spark, path, doomed) === 2)
    val g2 = KnnHnsw.loadVersioned(spark, path)
    val n = corpus.count().toInt
    val served = KnnHnsw.search(g2, queries, k = 5, efQuery = n)
    assert(served.join(doomed.select(col("vec_id").as("match_id")),
      Seq("match_id"), "left_semi").count() === 0, "tombstoned ids leaked")
    // compact as a commit: rebuilt from live rows == scratch build of live
    assert(KnnHnsw.compactVersioned(spark, path, numShards = 4) === 3)
    val live = corpus.filter(col("vec_id") % 5 =!= 0)
    val compacted = KnnHnsw.loadVersioned(spark, path)
    assert(structureOf(compacted.drop("deleted")) ===
      structureOf(KnnHnsw.build(live, numShards = 4)))
    assert(Versioned.versions(spark, path) === Seq(0, 1, 2, 3))
  }

  test("primitive beam kernel matches the reference kernel bit for bit") {
    // 400 × dim 16 with every 5th vector an exact copy of an earlier one
    // (distance ties), ids out of insertion order (the beam breaks ties
    // by id, the prune by local index) and every 7th node tombstoned
    val rnd = new scala.util.Random(20261019L)
    val vecs = new mutable.ArrayBuffer[Array[Float]]
    (0 until 400).foreach { i =>
      vecs += (if (i % 5 == 4) vecs(rnd.nextInt(i))
               else Array.fill(16)(rnd.nextGaussian().toFloat))
    }
    val ids = (0 until 400).map(i => (i * 7919L) % 1009L)
    val queries = (0 until 20).map(i => if (i % 2 == 0) vecs(i * 13)
      else Array.fill(16)(rnd.nextGaussian().toFloat))
    val dead: Int => Boolean = _ % 7 == 3
    def pack(v: Array[Float]): Array[Long] = {
      val w = new Array[Long](1)
      v.indices.foreach(i => if (v(i) > 0f) w(0) |= 1L << i)
      w
    }
    val codes = vecs.map(pack)
    def hamming(q: Array[Float]): Int => Double = {
      val c = pack(q)(0)
      j => java.lang.Long.bitCount(c ^ codes(j)(0)).toDouble
    }
    Seq(4 -> 24, 8 -> 64).foreach { case (m, efc) =>
      val ref = new ReferenceNsw(m, efc)
      val g = new KnnHnsw.NswGraph(m, efc)
      ids.indices.foreach { i => ref.insert(ids(i), vecs(i)); g.insert(ids(i), vecs(i)) }
      assert(g.size === ref.ids.length)
      ids.indices.foreach { i =>
        assert(g.neighbors(i).toSeq === ref.adj(i).toSeq, s"m=$m node $i adjacency")
      }
      for (ef <- Seq(1, 5, 50); q <- queries; filter <- Seq[Int => Boolean](_ => true, i => !dead(i))) {
        assert(g.searchBeam(q, ef, filter) === ref.searchBeam(q, ef, filter), s"m=$m ef=$ef cosine")
        assert(g.searchBeamWith(hamming(q), ef, filter) ===
          ref.searchBeamWith(hamming(q), ef, filter), s"m=$m ef=$ef hamming")
      }
    }
  }

  test("load starts no Spark job and restores the schema of a plain read") {
    val root = tempDir("graft_hnsw_load")
    val plain = s"$root/plain"
    val tombstoned = s"$root/tombstoned"
    KnnHnsw.save(graph, plain)
    KnnHnsw.save(KnnHnsw.markDeleted(graph,
      corpus.select(col("vec_id")).filter(col("vec_id") % 3 === 0)), tombstoned)
    Seq(plain, tombstoned).foreach { path =>
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      }
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val loaded = try KnnHnsw.load(spark, path) finally {
        ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(jobs.get === 0, path)
      val inferred = KnnHnsw.restoreColumns(spark.read.parquet(path))
      assert(loaded.schema === inferred.schema, path)
      assert(loaded.columns.contains("deleted") === (path == tombstoned))
      assert(loaded.exceptAll(inferred).count() === 0 &&
        inferred.exceptAll(loaded).count() === 0, path)
    }
  }

  private def sfKey: String =
    java.lang.Long.toHexString(sfDir.hashCode.toLong & 0xffffffffL)
}
