package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AnnLsh, Multimodal, vector}

/** LLM-pipeline ops: ANN-LSH scale path (recall vs the brute-force
  * baseline), multimodal plumbing, vector kernels.
  */
class OpsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("ops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "32m")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private lazy val emb: DataFrame =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings").cache()

  test("vec_dot matches the composed-HOF fold bit-for-bit") {
    val viaKernel = emb.select(vector.vec_dot(col("embedding"), col("embedding")).as("d"))
    val viaHof = emb.select(aggregate(
      transform(col("embedding"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (a, x) => a + x).as("d"))
    val k = viaKernel.collect().map(_.getDouble(0))
    val h = viaHof.collect().map(_.getDouble(0))
    assert(k.length == h.length)
    k.zip(h).foreach { case (a, b) => assert(a == b, s"bitwise mismatch: $a vs $b") }
  }

  test("min_shingle_md5 matches the composed HOF form and handles short texts") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text"))
      .union(spark.createDataFrame(Seq(
        Tuple1(""), Tuple1("one"), Tuple1("two words"), Tuple1("exactly three tokens"),
        Tuple1("  leading double space"), Tuple1("trailing space "))).toDF("text"))
    val ts = split(col("text"), " ")
    val viaHof = when(size(ts) >= 3,
      array_min(transform(sequence(lit(1), size(ts) - 2),
        i => md5(concat_ws(" ", slice(ts, i, lit(3))).cast("binary")))))
    val rows = docs.select(
      graft.ops.MinShingleMd5.min_shingle_md5(col("text")).as("k"),
      viaHof.as("h")).collect()
    rows.foreach(r => assert(r.get(0) == r.get(1), s"mismatch: ${r.get(0)} vs ${r.get(1)}"))
  }

  test("LSH bucketing is deterministic and produces numTables rows per vector") {
    val b1 = AnnLsh.withBuckets(emb, "embedding", 64, numTables = 4, numPlanes = 6)
    val b2 = AnnLsh.withBuckets(emb, "embedding", 64, numTables = 4, numPlanes = 6)
    assert(b1.count() == emb.count() * 4)
    val x1 = b1.select("vec_id", "lsh_table", "lsh_bucket").collect().map(_.toSeq).toSet
    val x2 = b2.select("vec_id", "lsh_table", "lsh_bucket").collect().map(_.toSeq).toSet
    assert(x1 == x2)
  }

  test("ANN top-k: recall vs brute force with candidate reduction") {
    val probes = emb.filter(col("vec_id") < 50)
    val ann = AnnLsh.annTopK(emb, probes, "vec_id", "embedding", 64,
      k = 5, numTables = 12, numPlanes = 5)
    val annPairs = ann.select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // brute-force top-5 per probe (the oracle)
    val pe = col("pe").cast("array<double>")
    val ne = col("ne").cast("array<double>")
    val cos = vector.vec_dot(pe, ne) /
      sqrt(vector.vec_dot(pe, pe) * vector.vec_dot(ne, ne))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    val brute = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .crossJoin(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
    val brutePairs = brute.select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val recall = (annPairs & brutePairs).size.toDouble / brutePairs.size
    info(f"ANN recall@5 = $recall%.3f (${annPairs.size} ann pairs)")
    assert(recall >= 0.3, f"recall too low: $recall%.3f")
    // and the ANN result is honest about its cosines: spot-check one pair
    val one = ann.limit(1).collect()
    assert(one.head.getDouble(2) <= 1.0001 && one.head.getDouble(2) >= -1.0001)
  }

  test("IVF ANN: recall vs brute force, searching only nprobe cells") {
    import graft.ops.AnnIvf
    val probes = emb.filter(col("vec_id") < 50)
    val index = AnnIvf.buildIndex(emb, "vec_id", "embedding", numCells = 12)
    assert(index.centers.length == 12)
    val ann = AnnIvf.annTopK(index, probes, "vec_id", "embedding", k = 5, nprobe = 4)
    val annPairs = ann.select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val pe = col("pe").cast("array<double>")
    val ne = col("ne").cast("array<double>")
    val cos = vector.vec_dot(pe, ne) /
      sqrt(vector.vec_dot(pe, pe) * vector.vec_dot(ne, ne))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    val brutePairs = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .crossJoin(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val recall = (annPairs & brutePairs).size.toDouble / brutePairs.size
    info(f"IVF recall@5 = $recall%.3f with nprobe=4/12 cells")
    assert(recall >= 0.3, f"recall too low: $recall%.3f")
    // determinism: rebuilt index gives identical assignments
    val again = AnnIvf.buildIndex(emb, "vec_id", "embedding", numCells = 12)
    val a1 = index.assigned.select("vec_id", "__cell").collect().map(_.toSeq).toSet
    val a2 = again.assigned.select("vec_id", "__cell").collect().map(_.toSeq).toSet
    assert(a1 == a2)
  }

  test("two-level IVF: same auto-k law, deterministic rebuild, recall " +
    "comparable to the flat quantizer at the same probed-cell budget") {
    import graft.ops.AnnIvf
    val probes = emb.filter(col("vec_id") < 50)
    val idx2 = AnnIvf.buildIndexTwoLevel(emb, "vec_id", "embedding", numCells = 12)
    // k1 = ceil(sqrt(12)) = 4 supers, k2 = 3 subs each
    assert(idx2.superCenters.length == 4 && idx2.subsPerSuper == 3)
    val totalCells = idx2.subCenters.count()
    assert(totalCells <= 12 && totalCells >= 4, s"cells: $totalCells")
    // every corpus row carries a valid global cell id from its OWN super
    val bad = idx2.assigned.filter(
      col("__cell") < col("__super") * idx2.subsPerSuper ||
        col("__cell") >= (col("__super") + 1) * idx2.subsPerSuper).count()
    assert(bad == 0, "cells must belong to the row's own super-cell")
    val ann = AnnIvf.annTopK2(idx2, probes, "vec_id", "embedding",
      k = 5, nprobeSuper = 3, nprobe = 6)
    val annPairs = ann.select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pe = col("pe").cast("array<double>")
    val ne = col("ne").cast("array<double>")
    val cos = vector.vec_dot(pe, ne) /
      sqrt(vector.vec_dot(pe, pe) * vector.vec_dot(ne, ne))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    val brutePairs = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .crossJoin(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (annPairs & brutePairs).size.toDouble / brutePairs.size
    info(f"IVF2 recall@5 = $recall%.3f with nprobeSuper=3/4, nprobe=6")
    assert(recall >= 0.3, f"recall too low: $recall%.3f")
    // determinism: a rebuilt index assigns identical cells (hash-sorted
    // sub-training samples, striding init, tie-broken argmin)
    val again = AnnIvf.buildIndexTwoLevel(emb, "vec_id", "embedding", numCells = 12)
    val a1 = idx2.assigned.select("vec_id", "__cell").collect().map(_.toSeq).toSet
    val a2 = again.assigned.select("vec_id", "__cell").collect().map(_.toSeq).toSet
    assert(a1 == a2)
  }

  test("two-level IVF fused all-supers probe (r18): results equal an " +
    "independent local re-implementation of rank-all-sub-centroids + " +
    "exact re-rank, and equal brute force when nprobe covers every cell") {
    import graft.ops.AnnIvf
    val idx2 = AnnIvf.buildIndexTwoLevel(emb, "vec_id", "embedding", numCells = 12)
    val k1 = idx2.superCenters.length
    val probes = emb.filter(col("vec_id") < 30)

    // independent oracle computed driver-side from the index pieces:
    // candidate cells = top-nprobe by (d2, cell asc) over ALL sub-
    // centroids (what the super pass degenerates to at nprobeSuper=k1),
    // then exact cosine top-5 within those cells, ties to lower id
    val subs = idx2.subCenters.collect()
      .map(r => (r.getInt(1), r.getSeq[Double](2).toArray))
    val corpus = idx2.assigned
      .select(col("vec_id"), col("__cell"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val probeVecs = probes
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // EXACTLY the kernel's expression — dot(p,p) - 2 dot(p,c) + dot(c,c)
    // as sequential double folds, NOT sum((p-c)^2): near-tied cells must
    // order identically in both routes
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def d2(a: Array[Double], b: Array[Double]): Double =
      dot(a, a) - 2.0 * dot(a, b) + dot(b, b)
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    def oracle(nprobe: Int): Set[(Long, Long)] = probeVecs.flatMap { case (pid, pe) =>
      val cells = subs.map { case (cell, c) => (d2(pe, c), cell) }
        .sortBy(identity).take(nprobe).map(_._2).toSet
      corpus.filter { case (nid, cell, _) => nid != pid && cells(cell) }
        .map { case (nid, _, ne) => (-cos(pe, ne), nid) }
        .sortBy(identity).take(5).map { case (_, nid) => (pid, nid) }
    }.toSet

    for (nprobe <- Seq(4, subs.length)) {
      val ann = AnnIvf.annTopK2(idx2, probes, "vec_id", "embedding",
        k = 5, nprobeSuper = k1, nprobe = nprobe)
        .select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(ann == oracle(nprobe), s"nprobe=$nprobe")
    }

    // with nprobe covering every cell the candidate set is the whole
    // corpus, so the fused probe must equal exact brute-force top-5
    val bruteOracle = probeVecs.flatMap { case (pid, pe) =>
      corpus.filter(_._1 != pid)
        .map { case (nid, _, ne) => (-cos(pe, ne), nid) }
        .sortBy(identity).take(5).map { case (_, nid) => (pid, nid) }
    }.toSet
    assert(oracle(subs.length) == bruteOracle)
  }

  test("IVF fromTables rejects non-contiguous or missing centroid cells") {
    import graft.ops.AnnIvf
    import spark.implicits._
    val cells = Seq((1L, Seq(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "cell")
    val good = Seq(
      (0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("cell", "center")
    assert(AnnIvf.fromTables(cells, good, "vec_id", "embedding")
      .centers === Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
    // a centroid matrix indexes centers by row position: a gap or dup
    // would silently shift every center — must fail loudly instead
    val gap = Seq((0, Seq(1.0, 0.0)), (2, Seq(0.0, 1.0))).toDF("cell", "center")
    val e1 = intercept[IllegalArgumentException](
      AnnIvf.fromTables(cells, gap, "vec_id", "embedding"))
    assert(e1.getMessage.contains("0..k-1"))
    val dup = Seq((0, Seq(1.0, 0.0)), (0, Seq(0.0, 1.0))).toDF("cell", "center")
    val e2 = intercept[IllegalArgumentException](
      AnnIvf.fromTables(cells, dup, "vec_id", "embedding"))
    assert(e2.getMessage.contains("0..k-1"))
  }

  test("stored-IVF loader auto-routes to the two-level path above the " +
    "driver-centroid cap with matching probe results") {
    import graft.ops.AnnIvf
    import org.apache.spark.sql.functions.col
    Tables.register(spark, "/root/testdata/sf0.001")
    val emb = spark.table("embeddings")
    val idx = AnnIvf.buildIndex(emb, "vec_id", "embedding", numCells = 12,
      trainSampleFraction = 1.0, maxIter = 8)
    val cells = AnnIvf.cellsTable(idx, "vec_id", "embedding")
    val cents = AnnIvf.centroidsTable(idx, spark)
    val probes = emb.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // flat route: cap above k → same behavior as fromTables
    val flat = AnnIvf.loadStored(cells, cents, "vec_id", "embedding")
    assert(flat.isInstanceOf[AnnIvf.StoredFlat], "k=12 must load flat")
    assert(flat.numCells == 12)
    val flatPairs = pairs(flat.topK(probes, "vec_id", "embedding", k = 5,
      nprobe = 9))
    // forced two-level route: cap below k → super-quantized load; the
    // driver must never hold more than ~sqrt(k) centers
    val two = AnnIvf.loadStored(cells, cents, "vec_id", "embedding",
      driverCentroidCap = 4)
    assert(two.isInstanceOf[AnnIvf.StoredTwoLevel], "k=12 > cap=4 must " +
      "load through the two-level quantizer")
    assert(two.numCells == 12)
    val twoPairs = pairs(two.topK(probes, "vec_id", "embedding", k = 5,
      nprobe = 9))
    // the stored two-level route ranks ALL supers, so its probed cell
    // set is EXACTLY the flat route's — results must be identical
    assert(twoPairs == flatPairs,
      s"two-level stored route diverged: ${(flatPairs diff twoPairs).size}" +
        s"/${(twoPairs diff flatPairs).size} asymmetric pairs")
    // the flat validation still guards the two-level route's input
    import spark.implicits._
    val gap = Seq((0, Seq(1.0, 0.0)), (2, Seq(0.0, 1.0))).toDF("cell", "center")
    val e = intercept[IllegalArgumentException](
      AnnIvf.loadStored(cells, gap, "vec_id", "embedding", driverCentroidCap = 1))
    assert(e.getMessage.contains("0..k-1"))
  }

  test("d03 banded-LSH candidate join drops degenerate hot buckets " +
    "instead of going quadratic") {
    import graft.queries.DedupQueries
    import spark.implicits._
    // one poisoned bucket with 10k members + two small honest buckets:
    // an uncapped self-join would emit ~50M candidate pairs from the hot
    // bucket alone
    val hot = (0 until 10000).map(i => (i.toLong, 0, "deadbeef"))
    val ok = Seq((20001L, 1, "b1"), (20002L, 1, "b1"),
      (20003L, 2, "b2"), (20004L, 2, "b2"), (20005L, 2, "b2"))
    val bands = (hot ++ ok).toDF("doc_id", "band", "bucket")
    val cand = DedupQueries.cappedSelfCandidates(bands, cap = 100)
    val got = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((20001L, 20002L), (20003L, 20004L),
      (20003L, 20005L), (20004L, 20005L)),
      s"hot bucket must contribute zero candidates, got ${got.size} pairs")
    // and an honest bucket AT the cap still joins
    val atCap = (0 until 100).map(i => (i.toLong, 7, "edge")).toDF(
      "doc_id", "band", "bucket")
    assert(DedupQueries.cappedSelfCandidates(atCap, cap = 100).count()
      == 100L * 99 / 2)
  }

  test("MinHashSketch aggregator matches the columnar d03 signature path") {
    import graft.ops.MinHashSketch
    // shingle hashes exactly as d03 derives them
    val h32 = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("ts")) - 2),
          i => concat_ws(" ", slice(col("ts"), i, lit(3)))))).as("sh"))
      .select(col("doc_id"),
        conv(substring(md5(col("sh").cast("binary")), 1, 8), 16, 10)
          .cast("long").as("h"))
      .filter(col("doc_id") < 20)

    val viaAggregator = h32.groupBy("doc_id")
      .agg(MinHashSketch.minhash_sketch(col("h")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

    val sigCols = (0 until 16).map { i =>
      min((lit(37 + 101 * i) * col("h") + lit(17 + 97 * i)) % 2147483647L).as(s"s$i")
    }
    val viaColumns = h32.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap

    assert(viaAggregator.keySet == viaColumns.keySet)
    viaAggregator.foreach { case (d, sig) =>
      assert(sig == viaColumns(d), s"sketch mismatch for doc $d")
    }
    // sketch union property: identical inputs -> estJaccard 1.0
    val d0 = viaAggregator.head._2
    assert(MinHashSketch.estJaccard(d0, d0) == 1.0)
  }

  test("approx_count_distinct within tolerance of exact (SURVEY 2.4)") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val r = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx")).collect().head
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"$approx vs $exact")
  }

  test("percentile_approx within tolerance of exact percentile (SURVEY 2.4)") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val r = li.agg(
      percentile(col("l_extendedprice"), lit(0.5)).as("exact"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx"))
      .collect().head
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.02, s"$approx vs $exact")
  }

  test("as-of join: match is the latest right row at-or-before each left ts") {
    import graft.ops.AsOfJoin
    import spark.implicits._
    val views = Seq((1L, 100L, 10L), (1L, 200L, 11L), (1L, 200L, 12L), (2L, 50L, 20L))
      .toDF("user_id", "tus", "event_id")
    val purchases = Seq((1L, 150L, 90L), (1L, 200L, 91L), (2L, 40L, 92L), (3L, 10L, 93L))
      .toDF("user_id", "tus", "event_id")
    val got = AsOfJoin.asofJoin(purchases, views,
      "user_id", "tus", "tus", "event_id", Seq("event_id"))
      .select("event_id", "asof_event_id")
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(got(90L).contains(10L)) // 150 matches the view at 100
    assert(got(91L).contains(12L)) // same-instant view matches; max event_id wins ties
    assert(got(92L).isEmpty)       // no view at-or-before 40
    assert(got(93L).isEmpty)       // key with no right rows
  }

  test("multimodal: media table schema + deterministic stub decode") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val media = Multimodal.toMediaTable(
      docs.withColumn("payload", col("text").cast("binary")),
      "doc_id", "payload", "image", "source")
    // compare shape (names + types); nullability differs per input lineage
    assert(media.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Multimodal.mediaSchema.map(f => (f.name, f.dataType.simpleString)))
    val decoded = Multimodal.decodeImages(media)
    assert(decoded.count() == docs.count())
    val r = decoded.filter(col("media_id") === 0).collect().head
    val r2 = Multimodal.decodeImages(media).filter(col("media_id") === 0).collect().head
    assert(r.getLong(0) == r2.getLong(0) && r.getInt(1) == r2.getInt(1) &&
      r.getInt(2) == r2.getInt(2) &&
      r.getAs[Array[Byte]](4).sameElements(r2.getAs[Array[Byte]](4)),
      "decode must be deterministic")
    assert(r.getInt(1) >= 64 && r.getInt(1) < 576) // width in stub range
  }

  test("multimodal: quarantine tags every reason class, severity order") {
    import graft.ops.Multimodal
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", BinaryType),
      StructField("src", StringType)))
    def b(s: String): Array[Byte] = s.getBytes("UTF-8")
    val rows = Seq(
      Row(1L, null, "s"),                                // null_payload
      Row(2L, Array.empty[Byte], "s"),                   // empty
      Row(3L, b("tiny"), "s"),                           // too_small
      Row(4L, b("x" * 100), "s"),                        // too_large
      Row(5L, b("!" + "a" * 20), "s"),                   // bad_magic ('!'=33)
      Row(6L, b("A" + "a" * 20), "s"))                   // ok
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
    val media = Multimodal.toMediaTable(df, "id", "p", "img", "src")
    val firstByte =
      conv(hex(substring(col("payload"), 1, 1)), 16, 10).cast("int")
    val got = Multimodal.quarantine(media, minBytes = 10, maxBytes = 50,
      magicOk = firstByte.between(65, 122))
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), r.getString(3))).toMap
    assert(got(1L) == ("null_payload", "quarantine"))
    assert(got(2L) == ("empty", "quarantine"))
    assert(got(3L) == ("too_small", "quarantine"))
    assert(got(4L) == ("too_large", "quarantine"))
    assert(got(5L) == ("bad_magic", "quarantine"))
    assert(got(6L) == ("ok", "keep"))

    // keepPredicate is the keep stream's single-pass form (m04/m05 ride
    // it instead of a quarantine semi-join): the filtered id set must
    // equal quarantine's status='keep' set on every reason class — also
    // at minBytes = 0, where only the "empty" arm drops row 2
    for (minB <- Seq(10L, 0L); magic <- Seq(firstByte.between(65, 122), lit(true))) {
      val viaPredicate = media.filter(Multimodal.keepPredicate(
        minBytes = minB, maxBytes = 50, magicOk = magic))
        .select("media_id").collect().map(_.getLong(0)).toSet
      val viaStatus = Multimodal.quarantine(media, minBytes = minB,
        maxBytes = 50, magicOk = magic)
        .filter(col("status") === "keep").select("media_id")
        .collect().map(_.getLong(0)).toSet
      assert(viaPredicate == viaStatus, s"minBytes=$minB magic=$magic")
    }

    // NULL-magic lockstep (r18, ADVICE): quarantine's when(!magicOk, ...)
    // arm SKIPS on NULL (falls through to keep), so keepPredicate must
    // keep a NULL-magic in-bounds row too — magic NULL on row 6 ('A')
    val nullMagic = when(firstByte === 65, lit(null).cast("boolean"))
      .otherwise(firstByte.between(65, 122))
    val qNull = Multimodal.quarantine(media, minBytes = 10, maxBytes = 50,
      magicOk = nullMagic)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(qNull(6L) == "keep")
    val pNull = media.filter(Multimodal.keepPredicate(
      minBytes = 10, maxBytes = 50, magicOk = nullMagic))
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(pNull == qNull.collect { case (id, "keep") => id }.toSet)
  }

  test("multimodal: byte-histogram features are L1-normalized array<double>") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents").limit(20)
    val media = Multimodal.toMediaTable(
      docs.withColumn("payload", col("text").cast("binary")),
      "doc_id", "payload", "image", "source")
    val feats = Multimodal.byteHistogramFeatures(media).collect()
    feats.foreach { r =>
      val v = r.getSeq[Double](1)
      assert(v.length == 16)
      assert(math.abs(v.sum - 1.0) < 1e-9)
    }
  }

  test("multimodal: frame sampling slices payloads with fixed stride") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents").limit(5)
    val media = Multimodal.toMediaTable(
      docs.withColumn("payload", col("text").cast("binary")),
      "doc_id", "payload", "video", "source")
    val frames = Multimodal.sampleFrames(media, frameSize = 32, stride = 2)
    val byDoc = frames.groupBy("media_id").agg(count(lit(1)).as("n"),
      max(length(col("frame"))).as("maxlen")).collect()
    byDoc.foreach { r => assert(r.getInt(2) <= 32) }
    assert(frames.count() > 0)
  }

  test("multimodal: payload byte-shingle simhash — identical payloads " +
    "collide, perturbed payloads stay near, plan has no all-pairs join") {
    import spark.implicits._
    val base = ("A" * 300) + ("xyzw" * 25)
    val rows = Seq(
      (1L, base), (2L, base), // exact dup pair
      (3L, base.replace("xyzw", "xyzv")), // near dup (tail perturbation)
      (4L, ("Q" * 200) + ("mnop" * 40))) // unrelated
    val media = Multimodal.toMediaTable(
      rows.toDF("doc_id", "text").withColumn("src", lit("t")),
      "doc_id", "text", "doc", "src")
    val sims = Multimodal.payloadSimhash(media, shingleBytes = 8, stride = 4)
    val byId = sims.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == byId(2L), "identical payloads must share a simhash")
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(byId(1L), byId(3L)) <= 4,
      s"near-dup hamming too far: ${ham(byId(1L), byId(3L))}")
    assert(ham(byId(1L), byId(4L)) > 0, "unrelated payloads should differ")
    // scale shape: one combinable groupBy, grouping by simhash is the
    // bucket step — no cartesian / nested-loop anywhere
    val grouped = sims.groupBy("simhash").count()
    val plan = grouped.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // vote law is the d04 formulation: recompute one doc's simhash from
    // first principles over the same slicing
    val payload = base.getBytes("UTF-8")
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = payload.length
    val shingles = (0 until ((n + 3) / 4)).map { i =>
      val off = i * 4
      val w = math.min(8, n - off)
      val d = md.digest(java.util.Arrays.copyOfRange(payload, off, off + w))
      d.map("%02x".format(_)).mkString
    }
    val expect = (0 until 16).map { p =>
      val v = shingles.map(h => if (h.charAt(p) >= '8') 1 else -1).sum
      if (v > 0) 1L << p else 0L
    }.sum
    assert(byId(1L) == expect, "vote law drifted from the d04 formulation")
  }

  test("multimodal: payload simhash shingles BYTES on non-ASCII text — " +
    "the windows split multi-byte chars exactly like the server's byte " +
    "domain (round-16 pin: the m04/m05 oracles restrict to ASCII by a " +
    "mirrored filter; THIS is the law beyond that restriction)") {
    import spark.implicits._
    // é is 2 bytes, ☺ is 3 — byte windows at stride 4 fall mid-char
    val base = ("héllo☺" * 40) + ("wörld" * 10)
    val media = Multimodal.toMediaTable(
      Seq((1L, base)).toDF("doc_id", "text").withColumn("src", lit("t")),
      "doc_id", "text", "doc", "src")
    val got = Multimodal.payloadSimhash(media, shingleBytes = 8, stride = 4)
      .collect().head.getLong(1)
    val payload = base.getBytes("UTF-8")
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = payload.length
    val shingles = (0 until ((n + 3) / 4)).map { i =>
      val off = i * 4
      val w = math.min(8, n - off)
      md.digest(java.util.Arrays.copyOfRange(payload, off, off + w))
        .map("%02x".format(_)).mkString
    }
    val expect = (0 until 16).map { p =>
      val v = shingles.map(h => if (h.charAt(p) >= '8') 1 else -1).sum
      if (v > 0) 1L << p else 0L
    }.sum
    assert(got == expect, "byte-domain slicing law drifted on multi-byte text")
    // and a CHAR-domain recompute over the same text disagrees — the
    // assertion that makes this a byte-vs-char pin, not a tautology
    val charShingles = (0 until ((base.length + 3) / 4)).map { i =>
      val off = i * 4
      val w = math.min(8, base.length - off)
      md.digest(base.substring(off, off + w).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    val charExpect = (0 until 16).map { p =>
      val v = charShingles.map(h => if (h.charAt(p) >= '8') 1 else -1).sum
      if (v > 0) 1L << p else 0L
    }.sum
    assert(charExpect != expect,
      "test payload failed to separate byte and char domains")
  }
}
