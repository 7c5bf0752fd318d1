package graft

import org.apache.spark.sql.functions._
import graft.ml.{Fft, Reduce}
import graft.operators.Enrich

/** Enrichment pipeline (B4 nested-record contract), FFT features
  * (F6/F7), PCA (F8).
  */
class EnrichMlSpec extends SparkSpec {
  import spark.implicits._

  test("FFT: dominant frequency of a pure sine is its frequency") {
    val n = 256; val fs = 256.0; val f0 = 16.0
    val sine = (0 until n).map(i => math.sin(2 * math.Pi * f0 * i / fs))
    assert(math.abs(Fft.dominantFreq(sine, fs) - f0) < 1e-9)
    val f1 = 48.0
    val sine2 = (0 until n).map(i => 3.0 * math.sin(2 * math.Pi * f1 * i / fs))
    assert(math.abs(Fft.dominantFreq(sine2, fs) - f1) < 1e-9)
  }

  test("FFT: dominant frequency of a constant (DC-only) signal is 0") {
    assert(Fft.dominantFreq(Seq.fill(64)(5.0), 64.0) == 0.0)
    assert(Fft.dominantFreq(Seq.fill(64)(0.0), 64.0) == 0.0)
    assert(Fft.dominantFreq(Seq(1.0), 64.0) == 0.0)
  }

  test("FFT: spectral energy obeys Parseval (= sum of squares)") {
    val rnd = new scala.util.Random(11)
    val xs = Seq.fill(128)(rnd.nextDouble() * 10 - 5)
    val direct = xs.map(x => x * x).sum
    assert(math.abs(Fft.spectralEnergy(xs) - direct) / direct < 1e-12)
  }

  test("Enrich spectral_energy (sumsq, by Parseval) equals the FFT form to 1e-12 relative on telemetry-shaped signals") {
    // integer sinusoids plus noise at the telemetry lengths (zero-padded
    // to 1024 or 2048 by the FFT), with and without a 20x spike, and
    // short signals (an empty one fails the rms in the same struct)
    val rnd = new scala.util.Random(20260418L)
    val telemetry = for {
      n <- Seq(1000, 1080, 1118, 1323)
      spike <- Seq(false, true)
    } yield {
      val a = 100 + rnd.nextInt(900); val f = 20.0 + rnd.nextInt(400)
      val ph = rnd.nextDouble() * 2 * math.Pi
      val s = Array.tabulate(n)(t => math.round(a * math.sin(2 * math.Pi * f * t / 2000.0 + ph) +
        (rnd.nextDouble() - 0.5) * 0.4 * a).toDouble)
      if (spike) s(rnd.nextInt(n)) = 20.0 * a
      s.toSeq
    }
    val signals = telemetry ++ Seq(Seq(3.0), Seq(-2.0, 5.0), Seq.fill(7)(2.5))
    val got = signals.toDF("signal")
      .select(Enrich.features($"signal", 2000.0)
        .getField("frequency_domain").getField("spectral_energy"))
      .as[Double].collect().toSeq
    signals.zip(got).foreach { case (xs, now) =>
      val fft = Fft.spectralEnergy(xs)
      assert(math.abs(now - fft) <= 1e-12 * math.abs(fft), s"n=${xs.size}: $now vs FFT $fft")
    }
  }

  test("FFT column functions work in a DataFrame") {
    val n = 64; val fs = 64.0
    val sine = (0 until n).map(i => math.sin(2 * math.Pi * 8.0 * i / fs))
    val df = Seq(sine).toDF("sig")
    val row = df.select(
      Fft.dominant_freq($"sig", lit(fs)).as("df"),
      Fft.spectral_energy($"sig").as("se")).head()
    assert(math.abs(row.getDouble(0) - 8.0) < 1e-9)
    assert(math.abs(row.getDouble(1) - sine.map(x => x * x).sum) < 1e-9)
  }

  test("Enrich.pipeline produces the B4 nested-record schema") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "Good",
        Seq(9.0, 19.0, -68.0, -29.0, 27.0, 74.0, -35.0, -11.0, 23.0, 3.0)),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "Bad",
        Seq(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 100.0))
    ).toDF("id", "ts", "status", "signal")
    val out = Enrich.pipeline(df, "signal", "ts", "status")
    val fields = out.schema.fieldNames.toSet
    assert(fields.contains("outlier_check") && fields.contains("features")
      && fields.contains("quality_metrics"))
    val r1 = out.filter($"id" === 1).head()
    val feats = r1.getStruct(r1.fieldIndex("features"))
    val td = feats.getStruct(0)
    assert(math.abs(td.getDouble(0) - 37.41122826104484) < 1e-9) // rms golden
    assert(td.getDouble(1) == 74.0)                              // peak golden
    assert(td.getDouble(2) == 74.0 - (-68.0))                    // ptp
    val oc1 = r1.getStruct(r1.fieldIndex("outlier_check"))
    assert(oc1.getBoolean(0)) // normal signal valid
    val qm = r1.getStruct(r1.fieldIndex("quality_metrics"))
    assert(qm.getDouble(0) == 1.0) // completeness
    assert(qm.getBoolean(1))       // consistency: status Good
    // the spiked signal: z of the 100.0 outlier = sqrt(n-1)*~3 → flagged
    val r2 = out.filter($"id" === 2).head()
    val oc2 = r2.getStruct(r2.fieldIndex("outlier_check"))
    assert(oc2.getDouble(1) > 0.2) // outlier_score reflects the spike
  }

  test("Enrich differential: batch pipeline == streaming pipeline results") {
    val data = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "Good",
        Seq(1.0, 2.0, 3.0, 4.0)),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), "Good",
        Seq(-5.0, 5.0, -5.0, 5.0)))
    val batch = Enrich.pipeline(data.toDF("id", "ts", "status", "signal"),
      "signal", "ts", "status")
      .select($"id", $"features.time_domain.rms",
        $"features.frequency_domain.spectral_energy")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap

    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String, Seq[Double])](spark)
    val sdf = Enrich.pipeline(in.toDF().toDF("id", "ts", "status", "signal"),
      "signal", "ts", "status")
      .select($"id", $"features.time_domain.rms",
        $"features.frequency_domain.spectral_energy")
    val q = sdf.writeStream.format("memory").queryName("enrich_stream")
      .outputMode("append").start()
    try {
      in.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("enrich_stream").collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("PCA reduces embeddings to k components") {
    val emb = Tables.embeddings(spark, sf)
    val out = Reduce.pca(emb, "embedding", 3)
    assert(out.columns.contains("principal_components"))
    val pcs = out.select($"principal_components").head().getSeq[Double](0)
    assert(pcs.length == 3)
    // variance concentrates: first component variance >= third
    val stats = out.select(
      variance(element_at($"principal_components", 1)).as("v1"),
      variance(element_at($"principal_components", 3)).as("v3")).head()
    assert(stats.getDouble(0) >= stats.getDouble(1))
  }

  test("q50b: every PCA invariant boolean holds and the metadata is exact") {
    val r = SparkEntry.queries("q50b_pca_invariants")(spark, sf).head()
    assert(r.getAs[Boolean]("orthonormal_ok"))
    assert(r.getAs[Boolean]("variance_ordered_ok"))
    assert(r.getAs[Boolean]("explained_le_total_ok"))
    assert(r.getAs[Boolean]("projection_contractive_ok"))
    assert(r.getAs[Long]("n_vecs") ==
      Tables.embeddings(spark, sf).count())
    assert(r.getAs[Int]("n_dims") > 0 && r.getAs[Int]("k") == 3)
    assert(r.getAs[Double]("total_var") > 0.0)
  }
}
