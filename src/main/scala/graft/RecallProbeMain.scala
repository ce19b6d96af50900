package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Local tuning grid for the graph-ANN recall ladder (VERDICT r12 #3):
  * prints mean recall_global / recall_cell for each (probes, lloyd,
  * beam, hops) configuration so a new committed rung is chosen from
  * MEASURED numbers, not guesses. Not part of the driver contract.
  *
  * Round-15 (VERDICT r14 #1): the committed rung measured 1.000/1.000
  * on the 500-vector sf0.01 fixture — fixture-saturation risk. Passing
  * `synth:<n>` as the dir synthesizes an n-vector corpus with PLANTED
  * cluster structure (deterministic, no RNG): ~n/50 clusters of ~50
  * vectors each (the fixture's density), centers hash-placed in
  * [-1,1]^64, per-vector perturbation ±0.1 per component — within-
  * cluster cosine ≈ 0.99, cross-cluster ≈ 0, so exact truth is
  * meaningful and the quantizer has real geometry to learn. The synth
  * run uses the REDUCED grid (the committed rung + its nearest
  * neighbours) — each row pays a full quantizer + adjacency + exact-
  * truth evaluation at n vectors. */
object RecallProbeMain {
  private[graft] def synthDir(s: SparkSession, n: Long): String = {
    val out = s"/tmp/graft_annsynth_$n"
    if (!new java.io.File(s"$out/embeddings.parquet").exists()) {
      val ncl = math.max(1L, n / 50)
      // cluster membership through a NONLINEAR hash (mod a prime first):
      // any linear map of vec_id keeps the quantizer's every-64th-id
      // seed set inside a subgroup of the cluster ids (gcd(64, ncl)
      // strides), which seeds only a fraction of the planted clusters
      // and collapses the quantizer — an artifact of the synthetic id
      // layout, not a property of real corpora (measured: recall 0.29
      // with id % ncl vs the hashed assignment's honest geometry)
      s.range(0, n).select(col("id").as("vec_id"),
          expr(s"((id * 2654435761 + 123) % 1000003) % $ncl").as("k"))
        .select(col("vec_id"),
          (col("k") % 1000).cast("int").as("label"),
          expr(("transform(sequence(0, 63), j -> CAST(" +
            "((k * 2654435761 + j * 97 + 13) % 2001) / 1000.0 - 1.0 + " +
            "((vec_id * 40503 + j * 1009 + 7) % 201 - 100) / 1000.0" +
            " AS FLOAT))")).as("embedding"))
        .select("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val d0 = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session()
    graft.ops.configure(spark)
    val synth = d0.startsWith("synth:")
    val d = if (synth) synthDir(spark, d0.stripPrefix("synth:").toLong)
            else d0
    // both round-13 sweeps; measured recall_global at sf0.01 in the
    // trailing comments (recall_cell varies inversely with probes —
    // the breadth trade SURVEY §19.3 documents)
    // (probes, lloyd, beam, hops, perCellBeam, entriesPerCell) —
    // perCellBeam = 0 means the shared-budget cut (the pre-ext170
    // behavior); an optional second CLI arg skips that many leading
    // rows (local iteration on the new rows only)
    val grid = Seq(
      (2, 1, 16, 5, 0, 1, false), // 0.433 — ext166, the r12 ceiling
      (3, 1, 16, 5, 0, 1, false), // 0.400 — probes REGRESS at fixed width
      (2, 2, 16, 5, 0, 1, false), // 0.433
      (2, 1, 32, 5, 0, 1, false), // 0.500
      (3, 2, 16, 5, 0, 1, false), // 0.400
      (3, 1, 32, 5, 0, 1, false), // 0.567
      (3, 2, 32, 5, 0, 1, false), // 0.533
      (4, 2, 32, 5, 0, 1, false), // 0.567
      (3, 2, 32, 7, 0, 1, false), // 0.567
      (4, 1, 32, 5, 0, 1, false), // 0.600
      (4, 2, 48, 5, 0, 1, false), // 0.667
      (6, 1, 48, 5, 0, 1, false), // 0.667
      (6, 2, 48, 5, 0, 1, false), // 0.633
      (6, 2, 64, 5, 0, 1, false), // 0.700
      (8, 2, 64, 5, 0, 1, false), // 0.833 — committed as ext168 (cell 0.433)
      (4, 2, 64, 7, 0, 1, false), // 0.700
      // round-14 sweep (VERDICT r13 #4), two levers measured separately:
      // a beam budget floored PER PROBED CELL (pc — recovers
      // recall_global: 0.933 at pc=16, the shared-64 budget was the
      // binding constraint), and MULTIPLE ENTRY NODES per probed cell
      // (e — recovers recall_cell: the out-degree-4 digraph from ONE
      // node reaches only part of a cell no matter the beam, which is
      // why pc alone left cell recall at 0.433)
      (8, 2, 0, 5, 4, 1, false),
      (8, 2, 0, 5, 8, 1, false),
      (8, 2, 0, 5, 16, 1, false),
      (8, 2, 0, 5, 24, 1, false),
      (4, 2, 0, 5, 16, 1, false),
      (8, 2, 0, 5, 16, 2, false),
      (8, 2, 0, 5, 16, 4, false),
      (8, 2, 0, 5, 8, 4, false),
      (8, 2, 0, 5, 16, 8, false),
      (4, 2, 0, 5, 16, 4, false),
      // the cr rows answer the cell tier from the own-cell re-rank of
      // the same visited union (ext170's two-tier answer surface)
      (8, 2, 0, 5, 16, 4, true), // committed as ext170 in round 14
      (8, 2, 0, 5, 8, 4, true),
      (8, 2, 0, 5, 16, 2, true),
      // round-15: the rung re-tuned to 16 entries after the synth-scale
      // ladder (see synthGrid below) — fixture recall stays 1.000/1.000
      (8, 2, 0, 5, 16, 16, true)) // committed as ext170/ext172, round 15
    // the synth (scale) grid: the committed rung, its cheaper
    // neighbours (fewer entries / narrower floor), and the pre-ext170
    // shared-budget rung as the regression reference
    // round-15 scale findings (10k hashed synth, full rows in SURVEY
    // §21): pc 8 ≡ pc 16 and hops 7 ≡ hops 5 — neither width nor depth
    // binds — while entries sweep recall 0.27 (e2) → 0.41 (e4) → 0.59
    // (e8) → 0.81 (e16) → 0.88 (e32): the out-degree-4 in-cell digraph
    // fragments ~60-node cells into islands, and ENTRY NODES, not beam,
    // decide how many islands the walk ever enters. The entries ladder
    // below is what the 100k validation runs.
    val synthGrid = Seq(
      (8, 2, 0, 5, 16, 4, true), // the round-14 committed rung
      (8, 2, 0, 5, 16, 8, true),
      (8, 2, 0, 5, 16, 16, true), // the round-15 committed rung
      (8, 2, 0, 5, 16, 32, true),
      (8, 2, 64, 5, 0, 1, false)) // ext168's shared top-64, reference
    val from = args.drop(1).headOption.map(_.toInt).getOrElse(0)
    (if (synth) synthGrid else grid).drop(from)
      .foreach { case (p, l, b, h, pc, e, cr) =>
      val t0 = System.nanoTime()
      val perCell = if (pc > 0) Some(pc) else None
      val r = ext.Similarity.recallConfig(spark, d, p, l, b, h, perCell, e, cr)
        .agg(avg("recall_global"), avg("recall_cell")).head
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"""{"probes":$p,"lloyd":$l,"beam":$b,"hops":$h,"per_cell":$pc,"entries":$e,"cell_rerank":$cr,"recall_global":${r.getDouble(0)}%.3f,"recall_cell":${r.getDouble(1)}%.3f,"s":$dt%.1f}""")
      Harness.release(spark)
    }
    spark.stop()
  }
}
