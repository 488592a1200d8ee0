package graft

import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Incremental/delta pipeline mode (pipeline/Incremental): the cycle
  * must (a) scan ONLY the two versioned objects — prior state + new raw
  * delta — never the full raw history, and (b) produce a state equal to
  * the full-from-scratch recompute (the monoid-merge contract the q340
  * DuckDB oracle also enforces at sf0.01).
  */
class IncrementalSpec extends SparkTestBase {

  test("delta cycle scans only the versioned state + delta objects") {
    val df = SparkEntry.queries("q340_incremental_pipeline")(spark, sfDir)
    val rels = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l
    }
    val paths = rels.flatMap(_.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    })
    assert(rels.length == 2,
      s"incremental run must read exactly state + delta, got:\n${paths.mkString("\n")}")
    assert(paths.exists(_.contains("state__")) &&
      paths.exists(_.contains("raw_delta__")),
      s"unexpected scan set:\n${paths.mkString("\n")}")
    assert(!paths.exists(_.contains(sfDir)),
      s"incremental run leaked a full-history scan:\n${paths.mkString("\n")}")
  }

  test("incremental merge ≡ full recompute, including the straddled month") {
    import spark.implicits._
    val inc = SparkEntry.queries("q340_incremental_pipeline")(spark, sfDir)
      .collect().toSet
    val o = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val fullRecompute = li.join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority".as("district"),
        trunc(to_date($"o_orderdate"), "month").as("month"))
      .agg(count(lit(1)).as("n_rows"),
        graft.core.Exact.centsSum($"l_extendedprice").as("sum_cents"))
      .collect().toSet
    assert(inc == fullRecompute,
      s"incremental state diverged from full reprocess: " +
        s"${(inc diff fullRecompute).take(3)} vs ${(fullRecompute diff inc).take(3)}")
    // the cutoff actually straddles a month: June 1997 must draw rows
    // from BOTH the prior state and the delta for the test to bite
    val juneFull = fullRecompute.filter(_.getAs[java.sql.Date]("month")
      .toString == "1997-06-01")
    assert(juneFull.nonEmpty, "fixture has no June-1997 rows; cutoff moot")
  }

  test("LSH delta cycle re-hashes only the delta: prior text never re-tokenized") {
    val df = SparkEntry.queries("q342_incremental_lsh_dedup")(spark, sfDir)
    val rels = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l
    }
    val paths = rels.flatMap(_.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    })
    // the plan may touch the state object several times (band rows +
    // shingle verification) but the RAW corpus must appear nowhere:
    // the prior side's only input is the signature state
    assert(paths.nonEmpty && paths.forall(p =>
      p.contains("lshstate__") || p.contains("lshraw__")),
      s"unexpected scan set:\n${paths.mkString("\n")}")
    assert(!paths.exists(_.contains(sfDir)),
      s"LSH delta cycle re-read the raw corpus:\n${paths.mkString("\n")}")
  }

  test("components delta cycle derives from the pair ledger, never the corpus") {
    val df = SparkEntry.queries("q347_incremental_components")(spark, sfDir)
    val rels = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l
    }
    val paths = rels.flatMap(_.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    })
    // the iterative components op checkpoints its edge list, so some
    // inputs appear as checkpoint RDDs rather than relations — every
    // relation that DOES survive must be a ledger object, and the raw
    // corpus must appear nowhere
    assert(paths.forall(p =>
      p.contains("pairledger__") || p.contains("pairdelta__")),
      s"unexpected scan set:\n${paths.mkString("\n")}")
    assert(!paths.exists(_.contains(sfDir)),
      s"components cycle re-read the corpus:\n${paths.mkString("\n")}")
  }

  test("sessionize and BM25 delta cycles never re-read raw history") {
    for ((name, allowed) <- Seq(
        "q349_incremental_sessionize" -> Seq("sessstate__", "sessraw__"),
        "q350_incremental_bm25" -> Seq("postings__", "docsraw__"))) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val paths = df.queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l
      }.flatMap(_.relation match {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          h.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      })
      assert(paths.forall(p => allowed.exists(p.contains)),
        s"$name unexpected scan set:\n${paths.mkString("\n")}")
      assert(!paths.exists(_.contains(sfDir)),
        s"$name re-read the raw corpus:\n${paths.mkString("\n")}")
    }
  }

  test("chained DAG (preprocess→validate→export) scans only state + delta") {
    val df = SparkEntry.queries("q375_incremental_chain")(spark, sfDir)
    val rels = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l
    }
    val paths = rels.flatMap(_.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    })
    // the WHOLE three-stage chain: the nested raw delta may be read
    // twice (flags branch + clean branch), the state once — and the
    // full-history tables must appear NOWHERE in any stage (the
    // composition property: no stage re-derives a full input)
    assert(paths.nonEmpty && paths.forall(p =>
      p.contains("chain_state__") || p.contains("chain_raw__")),
      s"unexpected scan set:\n${paths.mkString("\n")}")
    assert(paths.exists(_.contains("chain_state__")) &&
      paths.exists(_.contains("chain_raw__")),
      s"chain missing a versioned input:\n${paths.mkString("\n")}")
    assert(!paths.exists(_.contains(sfDir)),
      s"a chain stage leaked a full-history scan:\n${paths.mkString("\n")}")
  }

  test("resubmit cycle: retraction bites and the chain scans only state + delta") {
    val df = SparkEntry.queries("q378_incremental_resubmit")(spark, sfDir)
    val paths = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l
    }.flatMap(_.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    })
    assert(paths.nonEmpty && paths.forall(p =>
      p.contains("resub_state__") || p.contains("resub_raw__")),
      s"unexpected scan set:\n${paths.mkString("\n")}")
    assert(!paths.exists(_.contains(sfDir)),
      s"resubmit cycle leaked a full-history scan:\n${paths.mkString("\n")}")
    // the edit must visibly change the export vs the no-edit chain
    // (q375) — otherwise the retraction path is vacuous on this fixture
    val edited = df.collect().map(r => r.toSeq).toSet
    val unedited = SparkEntry.queries("q375_incremental_chain")(spark, sfDir)
      .collect().map(r => r.toSeq).toSet
    assert(edited != unedited,
      "resubmission edit changed nothing — fixture does not exercise retraction")
  }

  test("gated merge cycle scans only versioned objects, never raw history") {
    val df = SparkEntry.queries("q384_incremental_gated_merge")(spark, sfDir)
    val paths = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l
    }.flatMap(_.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    })
    // allowed: prior published merge, the two side deltas, and the two
    // freshly-written (pinned-path) accumulated side states
    assert(paths.nonEmpty && paths.forall(p =>
      p.contains("merge_pub__") || p.contains("merge_lraw__") ||
      p.contains("merge_rraw__") || p.contains("merge_left_next__") ||
      p.contains("merge_right_next__")),
      s"unexpected scan set:\n${paths.mkString("\n")}")
    assert(!paths.exists(_.contains(sfDir)),
      s"gated merge cycle leaked a full-history scan:\n${paths.mkString("\n")}")
  }

  test("gated merge cycle: late second row UN-MERGES, first counterpart FUSES") {
    import spark.implicits._
    val dir = graft.core.Scratch.dir("spec_gated_cycle")
    val keys = Seq("k")
    // prior: key A is 1:1 (published joined), key B is left-only
    val lPrior = Seq(("A", 1L, 10L), ("B", 2L, 20L)).toDF("k", "l_id", "l_v")
    val rPrior = Seq(("A", 7L, 70L)).toDF("k", "r_id", "r_v")
    graft.io.Versioned.write(lPrior, dir, "gl", "00000001_a")
    graft.io.Versioned.write(rPrior, dir, "gr", "00000001_a")
    graft.io.Versioned.write(
      graft.ops.GatedMerge.gatedOneToOne(lPrior, rPrior, keys),
      dir, "gm", "00000001_a")
    // delta: a late SECOND left row for A (ambiguity arrives — the
    // published 1:1 match must un-merge) and B's FIRST right row (two
    // pass-throughs must fuse into one joined row)
    graft.io.Versioned.write(Seq(("A", 3L, 30L)).toDF("k", "l_id", "l_v"),
      dir, "glraw", "00000002_b")
    graft.io.Versioned.write(Seq(("B", 8L, 80L)).toDF("k", "r_id", "r_v"),
      dir, "grraw", "00000002_b")
    val out = graft.pipeline.Incremental.gatedMergeCycle(spark, dir,
        "gl", "gr", "gm", "glraw", "grraw", keys, "00000002_b")
      .collect().map(r => (r.getAs[String]("k"),
        Option(r.getAs[java.lang.Long]("l_id")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("r_id")).map(_.toLong))).toSet
    // A: 2 left rows + 1 right row, ALL pass-through (nothing joined)
    assert(out.count(_._1 == "A") == 3, s"A must un-merge into 3 rows: $out")
    assert(!out.exists(t => t._1 == "A" && t._2.nonEmpty && t._3.nonEmpty),
      s"A still has a joined row after ambiguity arrived: $out")
    // B: exactly one row, joined (l_id=2, r_id=8)
    assert(out.filter(_._1 == "B") == Set(("B", Some(2L), Some(8L))),
      s"B must fuse into one joined row: $out")
    // and the whole published merge equals the full reprocess
    val full = graft.ops.GatedMerge.gatedOneToOne(
        lPrior.unionByName(Seq(("A", 3L, 30L)).toDF("k", "l_id", "l_v")),
        rPrior.unionByName(Seq(("B", 8L, 80L)).toDF("k", "r_id", "r_v")),
        keys)
      .collect().map(r => (r.getAs[String]("k"),
        Option(r.getAs[java.lang.Long]("l_id")).map(_.toLong),
        Option(r.getAs[java.lang.Long]("r_id")).map(_.toLong))).toSet
    assert(out == full, s"cycle diverged from full re-merge: $out vs $full")
  }

  test("two gated merge cycles ≡ one full re-merge (composition across versions)") {
    import spark.implicits._
    val dir = graft.core.Scratch.dir("spec_two_gated")
    val ev = Tables.events(spark, sfDir).withColumn("day", to_date($"ts"))
    val left = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"day", $"event_id".as("p_event"),
        $"value".as("p_value"))
    val right = ev.filter($"event_type" === "error")
      .select($"user_id", $"day", $"event_id".as("e_event"),
        $"value".as("e_value"))
    val keys = Seq("user_id", "day")
    def third(df: org.apache.spark.sql.DataFrame, idCol: String, r: Int) =
      df.filter(col(idCol) % 3 === r)
    graft.io.Versioned.write(third(left, "p_event", 0), dir, "g2l", "00000001_a")
    graft.io.Versioned.write(third(right, "e_event", 0), dir, "g2r", "00000001_a")
    graft.io.Versioned.write(graft.ops.GatedMerge.gatedOneToOne(
      third(left, "p_event", 0), third(right, "e_event", 0), keys),
      dir, "g2m", "00000001_a")
    graft.io.Versioned.write(third(left, "p_event", 1), dir, "g2lr", "00000002_b")
    graft.io.Versioned.write(third(right, "e_event", 1), dir, "g2rr", "00000002_b")
    graft.pipeline.Incremental.gatedMergeCycle(spark, dir, "g2l", "g2r",
      "g2m", "g2lr", "g2rr", keys, "00000002_b").count()
    // cycle 2 consumes cycle 1's published next-version objects
    graft.io.Versioned.write(third(left, "p_event", 2), dir, "g2lr2", "00000003_c")
    graft.io.Versioned.write(third(right, "e_event", 2), dir, "g2rr2", "00000003_c")
    val out = graft.pipeline.Incremental.gatedMergeCycle(spark, dir,
        "g2l_next", "g2r_next", "g2m_next", "g2lr2", "g2rr2", keys,
        "00000003_c")
      .collect().map(_.toSeq).toSet
    val full = graft.ops.GatedMerge.gatedOneToOne(left, right, keys)
      .collect().map(_.toSeq).toSet
    assert(out == full,
      s"gated merge composition diverged: ${(out diff full).take(3)} vs ${(full diff out).take(3)}")
  }

  test("complete topology (preprocess→validate→merge_trips→export) scans only versioned objects") {
    import spark.implicits._
    val df = SparkEntry.queries("q387_chained_trips")(spark, sfDir)
    val paths = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l
    }.flatMap(_.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    })
    assert(paths.nonEmpty && paths.forall(_.contains("trg_")),
      s"unexpected scan set:\n${paths.mkString("\n")}")
    assert(!paths.exists(_.contains(sfDir)),
      s"a topology stage leaked a full-history scan:\n${paths.mkString("\n")}")
    df.count() // materialize so the published objects exist below
    // the trip-merge stage must actually FLIP gates on this fixture:
    // at least one prior 1:1 match un-merges (late second row) and at
    // least one prior pass-through fuses (first counterpart arrives)
    val dir = graft.core.Scratch.dir("q387_trips")
    def joinedKeys(prefix: String) = graft.io.Versioned
      .readLatest(spark, dir, prefix)
      .filter($"submission_id".isNotNull && $"trip_id".isNotNull)
      .select($"imei", $"landing_date").distinct().collect()
      .map(r => (r.getString(0), r.getDate(1).toString)).toSet
    val before = joinedKeys("trg_merged")
    val after = joinedKeys("trg_merged_next")
    assert((before diff after).nonEmpty,
      "no published 1:1 match un-merged — late-arrival retraction vacuous")
    assert((after diff before).nonEmpty,
      "no pass-through pair fused — the merge stage saw nothing new")
  }

  test("takedown cycle: tombstoned submission leaves state, merge, and export") {
    import spark.implicits._
    val df = SparkEntry.queries("q389_chained_takedown")(spark, sfDir)
    df.count()
    val dir = graft.core.Scratch.dir("q389_takedown")
    // published survey state holds no tombstoned id
    val st = graft.io.Versioned.readLatest(spark, dir, "tkd_sstate_next")
    assert(st.filter($"submission_id" % 31 === 0 &&
        $"landing_date" < to_date(lit("1998-06-15"))).isEmpty,
      "published survey state still holds a tombstoned submission")
    // deletion-driven UN-MERGE: at least one device-day that was a
    // published 1:1 match whose survey is now tombstoned must appear in
    // the new merge as a TRIP-ONLY pass-through
    val before = graft.io.Versioned.readLatest(spark, dir, "tkd_merged")
      .filter($"submission_id".isNotNull && $"trip_id".isNotNull &&
        $"submission_id" % 31 === 0)
      .select($"imei", $"landing_date", $"trip_id")
    assert(!before.isEmpty,
      "no tombstoned submission was 1:1-matched before — fixture vacuous")
    val after = graft.io.Versioned.readLatest(spark, dir, "tkd_merged_next")
    val orphaned = after.join(before, Seq("imei", "landing_date", "trip_id"),
      "left_semi")
    assert(!orphaned.isEmpty && orphaned.filter($"submission_id".isNotNull)
        .isEmpty,
      "a deleted survey's trip did not un-merge into a pass-through")
    // scan set: versioned tkd_* objects only
    val paths = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l
    }.flatMap(_.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    })
    assert(paths.nonEmpty && paths.forall(_.contains("tkd_")),
      s"unexpected scan set:\n${paths.mkString("\n")}")
    assert(!paths.exists(_.contains(sfDir)),
      s"takedown cycle leaked a full-history scan:\n${paths.mkString("\n")}")
  }

  test("derived-export cycle: composition + JSON doc derive from published state only") {
    val df = SparkEntry.queries("q388_chained_export")(spark, sfDir)
    import spark.implicits._
    val rows = df.collect()
    // the cycle eagerly CHECKPOINTS its bounded comp table (the state
    // scan happens once, at materialization, against the freshly
    // published expo_ object), so the returned plan reads checkpoint
    // blocks — any file: location still present must be an expo_*
    // versioned object, the checkpointed fragments surface as
    // ExistingRDD scans, and the raw history tables appear nowhere
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val planStr = df.queryExecution.executedPlan.toString
    val locs = "file:[^\\]\\,\\s]*".r.findAllIn(planStr).toList
    assert(locs.forall(_.contains("expo_")),
      s"unexpected scan set:\n${locs.distinct.mkString("\n")}")
    assert(planStr.contains("ExistingRDD"),
      "comp was not served from its eager checkpoint")
    assert(!planStr.contains(sfDir),
      "derived export leaked a full-history scan")
    // the Other lump must materialize (topN=3 over 5 taxa) and every
    // month's shares must close to ~100% (exact integer milli, rounding
    // slack ≤ 2 milli per month)
    assert(rows.exists(_.getAs[String]("taxon") == "Other"),
      "no Other lump — composition stage vacuous on this fixture")
    val bad = rows.groupBy(r => (r.getAs[String]("district"),
        r.getAs[java.sql.Date]("month")))
      .map { case (k, rs) => (k, rs.map(_.getAs[Long]("pct_milli")).sum) }
      .filter { case (_, s) => math.abs(s - 100000L) > 2L }
    assert(bad.isEmpty, s"month shares do not close: ${bad.take(3)}")
  }

  test("topology export cycle: products derive from published objects; scan set pinned") {
    import spark.implicits._
    val df = SparkEntry.queries("q391_topology_export")(spark, sfDir)
    val rows = df.collect()
    // the derived-products helper persists its bounded comp table, so
    // audit the EXECUTED plan string (the q388 discipline)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val planStr = df.queryExecution.executedPlan.toString
    val locs = "file:[^\\]\\,\\s]*".r.findAllIn(planStr).toList
    assert(locs.nonEmpty && locs.forall(_.contains("txe_")),
      s"unexpected scan set:\n${locs.distinct.mkString("\n")}")
    assert(!planStr.contains(sfDir),
      "topology export leaked a full-history scan")
    // the Other lump, share closure, and a non-degenerate trip export
    assert(rows.exists(_.getAs[String]("taxon") == "Other"),
      "no Other lump — composition stage vacuous")
    assert(rows.exists(_.getAs[Long]("n_matched") > 0L),
      "no month matched any trip — merge stage vacuous")
    val bad = rows.groupBy(r => (r.getAs[String]("district"),
        r.getAs[java.sql.Date]("month")))
      .map { case (k, rs) => (k, rs.map(_.getAs[Long]("pct_milli")).sum) }
      .filter { case (_, s) => math.abs(s - 100000L) > 2L }
    assert(bad.isEmpty, s"month shares do not close: ${bad.take(3)}")
  }

  test("topology export takedown: tombstoned submission leaves composition and doc") {
    import spark.implicits._
    val df = SparkEntry.queries("q392_topology_export_takedown")(spark, sfDir)
    val out = df.collect()
    val dir = graft.core.Scratch.dir("q392_txetkd")
    val cutoff = to_date(lit("1998-06-15"))
    // the tombstones removed real taxon-state rows...
    val prior = graft.io.Versioned.readLatest(spark, dir, "txd_sstate")
    val tombed = prior.filter($"submission_id" % 31 === 0 &&
      $"landing_date" < cutoff)
    assert(tombed.count() > 0, "no tombstoned submission had state — vacuous")
    // ...and none survive in the published state
    val published = graft.io.Versioned.readLatest(spark, dir,
      "txd_sstate_next")
    assert(published.filter($"submission_id" % 31 === 0 &&
      $"landing_date" < cutoff).isEmpty,
      "published taxon state still holds a tombstoned submission")
    // the DOC visibly forgets: for at least one (district, month) a
    // tombstoned submission contributed to, the published doc differs
    // from the doc the PRIOR state implies (cents moved, so the
    // taxon-sorted JSON array cannot be identical)
    val affected = tombed.select($"district", $"month").distinct()
    // the same top-3 + "Other" lump walk the export runs, over the
    // PRIOR state — comparing raw-taxon docs against lumped docs would
    // differ trivially and prove nothing
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy($"district", $"month")
      .orderBy($"cents".desc, $"taxon0".asc)
    val priorDocs = prior
      .groupBy($"district", $"month", $"catch_taxon".as("taxon0"))
      .agg(sum($"sum_cents").as("cents"))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("taxon", when($"rn" <= 3, $"taxon0").otherwise("Other"))
      .groupBy($"district", $"month", $"taxon")
      .agg(sum($"cents").as("cents"))
      .groupBy($"district", $"month")
      .agg(to_json(sort_array(collect_list(struct(
        $"taxon", $"cents")))).as("prior_doc"))
    val outDocs = out.map(r => ((r.getAs[String]("district"),
      r.getAs[java.sql.Date]("month")), r.getAs[String]("doc"))).toMap
    val changed = priorDocs.join(affected, Seq("district", "month"),
        "left_semi").collect()
      .count { r =>
        val k = (r.getAs[String]("district"), r.getAs[java.sql.Date]("month"))
        outDocs.get(k).exists(_ != r.getAs[String]("prior_doc"))
      }
    assert(changed > 0,
      "no affected month's doc changed — the takedown left no trace of forgetting")
  }

  test("dedup deletion: tombstoned doc leaves state, candidates, and components") {
    import spark.implicits._
    val out = SparkEntry.queries("q385_dedup_delete")(spark, sfDir).collect()
    assert(out.nonEmpty, "deletion fixture produced no components — vacuous")
    assert(!out.exists(r => r.getAs[Long]("doc_id") % 13 == 0 ||
      r.getAs[Long]("canonical_id") % 13 == 0),
      "a tombstoned doc survived into the published components")
    val dir = graft.core.Scratch.dir("q385_deldedup")
    // published signature state: no tombstoned id remains
    val sig = graft.io.Versioned.readLatest(spark, dir, "delsig_next")
    assert(sig.filter($"id" % 13 === 0).isEmpty,
      "published signature state still holds a tombstoned doc")
    // band candidates DERIVED from the published state never touch a
    // tombstoned id — the "never reappears" guarantee future cycles
    // rely on (candidates are generated from exactly these band rows)
    val bandRows = graft.ext.Dedup.bandRowsFromState(sig, bands = 21,
      rowsPerBand = 3)
    val cands = bandRows.select($"band", $"bucket", $"id".as("id_a"))
      .join(bandRows.select($"band", $"bucket", $"id".as("id_b")),
        Seq("band", "bucket"))
      .filter($"id_a" < $"id_b")
    assert(cands.filter($"id_a" % 13 === 0 || $"id_b" % 13 === 0).isEmpty,
      "a tombstoned doc reappeared in band candidates")
    // published ledger: no pair touches a tombstoned endpoint
    val led = graft.io.Versioned.readLatest(spark, dir, "delledger_next")
    assert(led.filter($"id_a" % 13 === 0 || $"id_b" % 13 === 0).isEmpty,
      "published pair ledger still holds a tombstoned endpoint")
  }

  test("ANN deletion: tombstoned vector leaves the index and top-k serving") {
    import spark.implicits._
    val df = SparkEntry.queries("q386_ann_delete")(spark, sfDir)
    // serving scan set: purged versioned objects only, plus the raw
    // embeddings table STRICTLY for the external query panel — the
    // corpus side must come from the published index
    val paths = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l
    }.flatMap(_.relation match {
      case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        h.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    })
    assert(paths.nonEmpty && paths.forall(p =>
      p.contains("adel") || p.contains("embeddings")),
      s"unexpected scan set:\n${paths.mkString("\n")}")
    val out = df.collect()
    assert(out.nonEmpty, "ANN deletion fixture served nothing — vacuous")
    assert(!out.exists(_.getAs[Long]("n_id") % 13 == 0),
      "a tombstoned vector appeared in top-k serving")
    val dir = graft.core.Scratch.dir("q386_anndel")
    for (p <- Seq("adelcells_next", "adelcodes_next")) {
      val t = graft.io.Versioned.readLatest(spark, dir, p)
      assert(t.filter($"vec_id" % 13 === 0).isEmpty,
        s"published $p still holds a tombstoned vector")
      assert(t.filter($"vec_id" % 13 =!= 0).count() > 0,
        s"published $p lost its surviving vectors")
    }
  }

  test("BM25 deletion: tombstoned doc leaves the postings, the stats, and serving") {
    import spark.implicits._
    val out = SparkEntry.queries("q393_bm25_delete")(spark, sfDir).collect()
    assert(out.nonEmpty, "BM25 deletion served nothing — vacuous")
    assert(!out.exists(_.getAs[Long]("doc_id") % 13 == 0),
      "a tombstoned doc appeared in top-k serving")
    val dir = graft.core.Scratch.dir("q393_bm25del")
    val post = graft.io.Versioned.readLatest(spark, dir, "bmdel_post_next")
    assert(post.filter($"id" % 13 === 0).isEmpty,
      "published postings still hold a tombstoned doc")
    assert(post.filter($"id" % 13 =!= 0).count() > 0,
      "published postings lost the surviving docs")
    // the stats genuinely forget (not a query-time exclusion): the
    // purged index's doc count differs from the pre-delete index's
    val nd = post.select($"id").distinct().count()
    val ndFull = graft.io.Versioned.readLatest(spark, dir, "bmdel_post")
      .select($"id").distinct().count()
    assert(nd < ndFull,
      s"collection stats unchanged ($nd vs $ndFull) — deletion is cosmetic")
  }

  test("BM25 serving: a hand-fed null-id posting moves neither df/cf, the panel, nor any score") {
    import spark.implicits._
    val dir = graft.core.Scratch.dir("bm25_null_id")
    val clean = Seq[(Option[Long], String, Long)]((Some(1L), "a", 3L),
      (Some(1L), "b", 1L), (Some(2L), "a", 1L), (Some(2L), "c", 2L),
      (Some(3L), "b", 2L), (Some(3L), "c", 1L), (Some(4L), "d", 1L))
    // the null-id posting alone would make "d" the hottest term
    val dirty = clean :+ ((None, "d", 5L))
    val tag = "00000001_a"
    graft.io.Versioned.write(Seq(999L).toDF("id"), dir, "bnull_tomb", tag)
    def serve(prefix: String, posts: Seq[(Option[Long], String, Long)]) = {
      graft.io.Versioned.write(posts.toDF("id", "tok", "tf"), dir, prefix,
        tag)
      graft.pipeline.Incremental.bm25DeleteCycle(spark, dir, prefix,
        "bnull_tomb", qTerms = 2, k = 10, newTag = "00000002_b")
        .orderBy($"rnk").collect().toSeq
    }
    val want = serve("bnull_clean", clean)
    assert(want.nonEmpty)
    assert(serve("bnull_dirty", dirty) == want,
      "a null-id posting shifted the collection statistics")
  }

  test("two chained SURVEY cycles ≡ one full reprocess (DAG composition across versions)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = graft.core.Scratch.dir("spec_two_chain_cycles")
    val lw = graft.queries.IoQueries.chainLwTable(spark)
    val flat = graft.queries.IoQueries.chainSurveyFlat(spark, sfDir)
    def nest(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"submission_id", $"district", $"month")
        .agg(collect_list($"sg").as("species_groups"))
    val (c1, c2) = (to_date(lit("1997-06-15")), to_date(lit("1999-06-15")))
    graft.io.Versioned.write(
      graft.ops.IncrementalAgg.rollupState(
        graft.pipeline.Incremental.surveyProcess(
          nest(flat.filter($"day" < c1)), lw),
        Seq("district", "month"), $"catch_kg"),
      dir, "cs", "00000001_aaa")
    graft.io.Versioned.write(
      nest(flat.filter($"day" >= c1 && $"day" < c2)), dir, "cr1", "00000002_bbb")
    // cycle 1 publishes cs_next; cycle 2 consumes THAT as its state
    graft.pipeline.Incremental.chainedSurveyCycle(spark, dir, "cs", "cr1",
      lw, "00000002_bbb").count()
    graft.io.Versioned.write(
      nest(flat.filter($"day" >= c2)), dir, "cr2", "00000003_ccc")
    val twoCycles = graft.pipeline.Incremental.chainedSurveyCycle(spark,
      dir, "cs_next", "cr2", lw, "00000003_ccc").collect().toSet
    val full = graft.ops.IncrementalAgg.rollupState(
      graft.pipeline.Incremental.surveyProcess(nest(flat), lw),
      Seq("district", "month"), $"catch_kg").collect().toSet
    assert(twoCycles == full,
      s"chain composition diverged: ${(twoCycles diff full).take(3)} vs ${(full diff twoCycles).take(3)}")
  }

  test("two chained delta cycles ≡ one full reprocess (associativity across versions)") {
    import spark.implicits._
    val dir = graft.core.Scratch.dir("spec_two_cycles")
    val o = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    val full = li.join(o, $"l_orderkey" === $"o_orderkey")
      .select($"o_orderpriority".as("district"),
        trunc(to_date($"o_orderdate"), "month").as("month"),
        to_date($"o_orderdate").as("day"),
        $"l_extendedprice".as("price"))
    val c1 = to_date(lit("1995-01-01"))
    val c2 = to_date(lit("1997-01-01"))
    graft.io.Versioned.write(
      graft.ops.IncrementalAgg.rollupState(full.filter($"day" < c1),
        Seq("district", "month"), $"price"), dir, "st", "00000001_a")
    graft.io.Versioned.write(full.filter($"day" >= c1 && $"day" < c2),
      dir, "raw", "00000002_b")
    graft.pipeline.Incremental.deltaCycle(spark, dir, "st", "raw",
      Seq("district", "month"), $"price", "00000002_b").count()
    // cycle 2: prior = cycle 1's published next-version state
    graft.io.Versioned.write(full.filter($"day" >= c2),
      dir, "raw2", "00000003_c")
    val out = graft.pipeline.Incremental.deltaCycle(spark, dir, "st_next",
        "raw2", Seq("district", "month"), $"price", "00000003_c")
      .collect().toSet
    val fullState = graft.ops.IncrementalAgg.rollupState(full,
      Seq("district", "month"), $"price").collect().toSet
    assert(out == fullState,
      s"chained cycles diverge: ${(out diff fullState).take(3)}")
  }

  test("re-cluster cycle: representative delta takes the frozen assign path") {
    import spark.implicits._
    val dir = graft.core.Scratch.dir("spec_recluster_assign")
    def vec(axis: Int, j: Double): Array[Float] =
      Array.tabulate(4)(i => (if (i == axis) 10f else 0f) + j.toFloat)
    // two tight clusters on axes 0/1; prior AND delta alternate evenly,
    // so the delta's cell-share profile matches the prior's (tv = 0)
    val prior = (0L until 20L).map(id => (id, vec((id % 2).toInt, 0.001 * id)))
      .toDF("vec_id", "embedding")
    val delta = (100L until 110L).map(id => (id, vec((id % 2).toInt, 0.001 * id)))
      .toDF("vec_id", "embedding")
    graft.io.Versioned.write(graft.ext.Pq.trainCodebooks(spark, prior,
      m = 1, subDim = 4, k = 2), dir, "rc", "00000001_a")
    val c0 = graft.ext.IvfIndex.materializeLocal(spark,
      graft.io.Versioned.readLatest(spark, dir, "rc"))
    graft.io.Versioned.write(graft.ext.Pq.encode(prior, c0, m = 1, subDim = 4)
      .select($"vec_id", $"cid".as("cell")), dir, "cl", "00000001_a")
    graft.io.Versioned.write(delta, dir, "rd", "00000002_b")
    // the prior-raw prefix deliberately DOES NOT EXIST in this store:
    // a fast-path cycle that ever resolved it would throw — the hard
    // form of "assign-only maintenance never reads the raw history"
    val rows = graft.pipeline.Incremental.annReclusterCycle(spark, dir,
      "rc", "cl", "no_such_prefix", "rd", dim = 4, kCells = 2,
      tvMilli = 400L, newTag = "00000002_b").collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[String]("path") == "assign"),
      s"expected assign path, got ${rows.map(_.getAs[String]("path")).toSet}")
    assert(rows.map(_.getAs[Long]("n_vec")).sum == 30L,
      "published index must hold prior + delta vectors")
  }

  test("re-cluster cycle: skewed delta triggers rebuild ≡ fresh full build") {
    import spark.implicits._
    val dir = graft.core.Scratch.dir("spec_recluster_rebuild")
    def vec(axis: Int, j: Double): Array[Float] =
      Array.tabulate(4)(i => (if (i == axis) 10f else 0f) + j.toFloat)
    val prior = (0L until 20L).map(id => (id, vec((id % 2).toInt, 0.001 * id)))
      .toDF("vec_id", "embedding")
    // delta lands ENTIRELY in the axis-1 cluster: delta shares (0, 1000)
    // vs prior (500, 500) → tv = 500 > 400 → rebuild fires
    val delta = (100L until 110L).map(id => (id, vec(1, 0.001 * id)))
      .toDF("vec_id", "embedding")
    graft.io.Versioned.write(graft.ext.Pq.trainCodebooks(spark, prior,
      m = 1, subDim = 4, k = 2), dir, "rc", "00000001_a")
    val c0 = graft.ext.IvfIndex.materializeLocal(spark,
      graft.io.Versioned.readLatest(spark, dir, "rc"))
    graft.io.Versioned.write(graft.ext.Pq.encode(prior, c0, m = 1, subDim = 4)
      .select($"vec_id", $"cid".as("cell")), dir, "cl", "00000001_a")
    graft.io.Versioned.write(prior, dir, "rp", "00000001_a")
    graft.io.Versioned.write(delta, dir, "rd", "00000002_b")
    val rows = graft.pipeline.Incremental.annReclusterCycle(spark, dir,
      "rc", "cl", "rp", "rd", dim = 4, kCells = 2,
      tvMilli = 400L, newTag = "00000002_b").collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[String]("path") == "rebuild"),
      s"expected rebuild path, got ${rows.map(_.getAs[String]("path")).toSet}")
    // the published index must equal a from-scratch train+encode on
    // prior ∪ delta — the rebuild is the real thing, not a patch
    val corpus = prior.unionByName(delta)
    val fresh = graft.ext.Pq.encode(corpus,
        graft.ext.IvfIndex.materializeLocal(spark,
          graft.ext.Pq.trainCodebooks(spark, corpus, m = 1, subDim = 4, k = 2)),
        m = 1, subDim = 4)
      .select($"vec_id", $"cid".as("cell")).collect().toSet
    val published = graft.io.Versioned.readLatest(spark, dir, "cl_next")
      .collect().toSet
    assert(published == fresh,
      s"rebuild diverged from fresh build: ${(published diff fresh).take(3)}")
  }

  test("published next-version state is readable and equals the returned state") {
    val dir = graft.core.Scratch.dir("q340_incremental")
    val returned = SparkEntry.queries("q340_incremental_pipeline")(spark, sfDir)
    val published = graft.io.Versioned.readLatest(spark, dir, "state_next")
      .select(col("district"), col("month"), col("n").as("n_rows"),
        col("sum_cents"))
    assert(returned.collect().toSet == published.collect().toSet)
  }
}
