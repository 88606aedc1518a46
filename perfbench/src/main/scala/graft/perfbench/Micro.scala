package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{SplineKernels, StatKernels, TextKernels, VectorKernels}
import graft.sources.{Grib, Grids, NetCdf}

/** Kernel and decoder timings, taken from outside the engine: each
  * `graft.functions` kernel is called in a tight loop over a sample of
  * the workload's own inputs (seeded synthetic samples where the
  * workload has no such table), and each `graft.sources` decoder runs
  * on bytes produced by the engine's encoders. Reported per call
  * (median of 5 repetitions) and as decode throughput. */
object Micro {
  @volatile private var sink = 0.0

  /** Median per-call time (ns) of `f` over `n` calls, 5 repetitions. */
  private def perCallNs(n: Int)(f: Int => Double): Double = {
    val reps = (1 to 5).map { _ =>
      var acc = 0.0
      val t = System.nanoTime()
      var i = 0
      while (i < n) { acc += f(i); i += 1 }
      sink += acc
      (System.nanoTime() - t).toDouble / n
    }
    Main.quantile(reps, 0.5)
  }

  private def sample[T](spark: SparkSession, dir: String, table: String, n: Int)(
      read: org.apache.spark.sql.Row => T): Option[IndexedSeq[T]] = {
    val p = s"$dir/$table.parquet"
    if (!new java.io.File(p).exists()) None
    else Some(spark.read.parquet(p).limit(n).collect().toIndexedSeq.map(read))
  }

  def run(spark: SparkSession, dir: String, seed: Long): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    val values: IndexedSeq[Double] = sample(spark, dir, "events", 2000)(_.getAs[Double]("value"))
      .getOrElse(IndexedSeq.fill(2000)(math.rint(-50 * math.log(1 - rnd.nextDouble()) * 100) / 100))
    val texts: IndexedSeq[UTF8String] = sample(spark, dir, "documents", 500)(r =>
      UTF8String.fromString(r.getAs[String]("text")))
      .getOrElse(IndexedSeq.fill(500)(UTF8String.fromString(
        Seq.fill(40)(Seq("a", "key", "row", "scan", "spark", "join", "data", "vector")(rnd.nextInt(8)))
          .mkString(" "))))
    val vecs: IndexedSeq[Array[Double]] = sample(spark, dir, "embeddings", 400)(r =>
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .getOrElse(IndexedSeq.fill(400)(Array.fill(64)(rnd.nextGaussian())))
    val nv = values.size; val nt = texts.size; val ne = vecs.size

    // climate kernels
    val gammaCdf = perCallNs(20000)(i => StatKernels.gammaCdf(values(i % nv), 2.0, 25.0))
    val gammaPInv = perCallNs(200)(i => StatKernels.gammaPInv(2.0, (i % 97 + 1) / 99.0))
    val normQ = perCallNs(20000)(i => StatKernels.normalQuantile((i % 9973 + 1) / 9975.0))
    val xs = Array.tabulate(24)(i => i.toDouble)
    val ys = Array.tabulate(24)(i => values(i % nv))
    val splineFit = perCallNs(500)(_ => SplineKernels.fitCoeffs(xs, ys)(0))
    val knots = SplineKernels.fitpackKnots(xs)
    val coeffs = SplineKernels.fitCoeffs(xs, ys)
    val splev = perCallNs(20000)(i => SplineKernels.splev(knots, coeffs, (i % 2300) / 100.0))

    // text kernels
    val sh = texts.map(t => TextKernels.shingles(t, 3))
    val toks = texts.map(t => new GenericArrayData(t.toString.split(' ').map(UTF8String.fromString)
      .asInstanceOf[Array[Any]]): ArrayData)
    val shinglesNs = perCallNs(nt * 4)(i => TextKernels.shingles(texts(i % nt), 3).numElements())
    val mA = graft.operators.Dedup.minhashA
    val mB = graft.operators.Dedup.minhashB
    val mP = graft.operators.Dedup.MinhashP
    val minhashNs = perCallNs(nt * 2)(i => TextKernels.minhashSig(sh(i % nt), mA, mB, mP).getLong(0))
    val simhashNs = perCallNs(nt * 4)(i => TextKernels.simhashFp(toks(i % nt)).toDouble)

    // vector kernels
    val arr = vecs.map(v => ArrayData.toArrayData(v))
    val cosineNs = perCallNs(20000)(i => VectorKernels.cosine(arr(i % ne), arr((i * 7 + 1) % ne)))
    val pool = 200 min ne
    val ids = Array.tabulate(pool)(_.toLong)
    val mat = vecs.take(pool).toArray
    val topkNs = perCallNs(200)(i => VectorKernels.topkCosine(arr(i % ne), -1L, ids, mat, 10)
      .numElements().toDouble)
    val series = Array.tabulate(8)(s => ArrayData.toArrayData(
      Array.tabulate(120)(j => values((s * 120 + j) % nv))))
    val dtwNs = perCallNs(200)(i => VectorKernels.dtwBanded(series(i % 8), series((i + 3) % 8), 10))

    // decoders, on the engine's own encodings of a 64x64 grid
    val grid = Array.tabulate(64, 64)((y, x) => values((y * 64 + x) % nv))
    val day = java.time.LocalDate.parse("2024-01-15").toEpochDay.toInt
    val tile = Grids.encodeTile("precip", day, 43.875, -9.875, 0.25, 0.25, grid)
    val tiff = Grids.encodeTiff(-9.875, 43.875, 0.25, grid, None)
    val lats = Array.tabulate(64)(i => 43.875 - 0.25 * i)
    val lons = Array.tabulate(64)(j => -9.875 + 0.25 * j)
    val ncBody = java.nio.ByteBuffer.allocate(64 * 64 * 4)
    grid.foreach(_.foreach(v => ncBody.putInt(math.rint(v * 1e6).toInt)))
    val nc = NetCdf.encodeGridNcPrefix("precip", day, lats, lons) ++ ncBody.array()
    val grib = gribMessage(values)
    def mbPerS(bytes: Array[Byte])(dec: Array[Byte] => Iterator[_]): Double = {
      val ns = perCallNs(50)(_ => dec(bytes).size.toDouble)
      bytes.length / ns * 1e9 / 1e6
    }
    val decoders: Seq[Array[Byte] => Iterator[_]] = Seq(
      b => Grib.decodeGrib(b), b => NetCdf.decodeNc(b), b => Grids.decodeTile(b),
      b => Grids.decodeTiff("precip", day, b))
    val payloads = Seq(grib, nc, tile, tiff)
    // quarantine: each decoder sees its valid payload, a truncated copy
    // and a copy with a corrupted magic; the ratio is the share of the
    // malformed ones that yield no cells
    val cells = decoders.zip(payloads).map { case (dec, b) =>
      Seq(b, b.take(b.length / 2), { val c = b.clone(); c(0) = (c(0) ^ 0x5a).toByte; c })
        .map(x => scala.util.Try(dec(x).size).getOrElse(0))
    }
    System.err.println(s"[perfbench] decoded cells (valid, truncated, bad magic) " +
      Seq("grib", "nc", "tile", "tiff").zip(cells).map { case (n, c) => s"$n=${c.mkString("/")}" }
        .mkString(" "))
    val malformed = cells.flatMap(_.tail)
    Map(
      "kernel.gamma_cdf_ns" -> gammaCdf, "kernel.gamma_pinv_ns" -> gammaPInv,
      "kernel.norm_quantile_ns" -> normQ, "kernel.spline_fit_us" -> splineFit / 1000,
      "kernel.splev_ns" -> splev, "kernel.shingles_us" -> shinglesNs / 1000,
      "kernel.minhash_sig_us" -> minhashNs / 1000, "kernel.simhash_us" -> simhashNs / 1000,
      "kernel.cosine_ns" -> cosineNs, "kernel.topk_cosine_us" -> topkNs / 1000,
      "kernel.dtw_banded_us" -> dtwNs / 1000,
      "decode.grib_mb_per_s" -> mbPerS(grib)(decoders(0)),
      "decode.nc_mb_per_s" -> mbPerS(nc)(decoders(1)),
      "decode.tile_mb_per_s" -> mbPerS(tile)(decoders(2)),
      "decode.tiff_mb_per_s" -> mbPerS(tiff)(decoders(3)),
      "decode.quarantine_ratio" -> malformed.count(_ == 0).toDouble / malformed.size)
  }

  /** A GRIB-1 message for an 8x8 quarter-degree grid, laid out as the
    * engine's own `grid_grib_decode` lane assembles it in-plan: PDS
    * (param 61, 2024-01-15, D = 6), lat/lon GDS, an all-present bitmap,
    * and 32-bit values N = v_us + 2^31 against R = -2^31. */
  private def gribMessage(values: IndexedSeq[Double]): Array[Byte] = {
    val np = 64
    val b = java.nio.ByteBuffer.allocate(98 + np * 4)
    def u24(v: Int): Unit = { b.put((v >> 16).toByte).put((v >> 8).toByte).put(v.toByte); () }
    def sm24(v: Int): Unit = u24(if (v < 0) 0x800000 | -v else v)
    b.put("GRIB".getBytes("US-ASCII")); u24(98 + np * 4); b.put(1.toByte)
    u24(28); b.put(128.toByte).put(98.toByte).put(0.toByte).put(255.toByte)
    b.put(0xC0.toByte)
    b.put(61.toByte).put(1.toByte).putShort(0)
    b.put(24.toByte).put(1.toByte).put(15.toByte).put(0.toByte).put(0.toByte)
    b.put(1.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    b.putShort(0).put(0.toByte).put(21.toByte).put(0.toByte).putShort(6)
    u24(32); b.put(0.toByte).put(255.toByte).put(0.toByte)
    b.putShort(8).putShort(8); sm24(43875); sm24(-9875); b.put(0x80.toByte)
    sm24(42125); sm24(-8125); b.putShort(250).putShort(250); b.put(0.toByte)
    u24(0); b.put(0.toByte)
    u24(14); b.put(0.toByte).putShort(0); (0 until 8).foreach(_ => b.put(0xFF.toByte))
    u24(12 + np * 4); b.put(8.toByte).putShort(0)
    b.put(0xC8.toByte).put(0x80.toByte).put(0.toByte).put(0.toByte)
    b.put(32.toByte)
    (0 until np).foreach { i =>
      val vUs = math.rint(values(i % values.size) * 1e6).toLong
      b.putInt((vUs + 2147483648L).toInt)
    }
    b.put(0.toByte); b.put("7777".getBytes("US-ASCII"))
    b.array()
  }
}
