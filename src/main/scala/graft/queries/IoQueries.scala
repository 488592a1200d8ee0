package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Exact, Tables}
import graft.core.Exact.{moneySum, r4}
import graft.io.{JsonIngest, Versioned}
import graft.ops.Reshape
import graft.pipeline.{Incremental, SpeciesReshape}
import graft.pipeline.Incremental.TopologyExport

/** Source/sink operators (SURVEY.md §2.1) plus remaining inventory rows:
  * nested JSON ingest with outer repeat-group expansion (S1/S2), GeoJSON
  * feature source (S11), versioned parquet staging (S3/S4), upsert diff
  * (S9), natural join (J12), suffix-disambiguated join (J13), last-per-
  * key (O5), median matrix (A17), pivot→drop-empty→unpivot roundtrip
  * (R5/P9), bulk rename + relocate (P2/P7).
  */
object IoQueries extends QueryPack {

  private val FixturesDir = "/root/repo/fixtures"

  val all: Seq[Q] = Seq(
    // S1/S2 — schema-on-read JSON ingest: uniqueness assert, coordinate
    // separation, and the array-typed repeat groups exploded to long
    // catch rows (posexplode_outer keeps empty submissions).
    Q("q53_json_ingest",
      (s, d) => {
        import s.implicits._
        val subs = JsonIngest.assertUniqueIds(
          JsonIngest.readSubmissions(s, s"$FixturesDir/submissions.json"))
        val coords = JsonIngest.splitCoordinates(subs)
        SpeciesReshape.toLongCatches(
            coords.withColumnRenamed("species_group", "species_groups"))
          .join(coords.select($"submission_id", $"lat"), Seq("submission_id"), "left")
          .select($"submission_id", $"n_catch", $"selected_species".as("species"),
            $"lat", $"length", $"individuals")
          .orderBy($"submission_id", $"n_catch".asc_nulls_first, $"length".asc_nulls_first)
      },
      Some(s"""WITH s AS (SELECT * FROM read_json_auto('$FixturesDir/submissions.json')),
             |a AS (SELECT _id AS submission_id, location,
             |        unnest(CASE WHEN species_group IS NULL OR len(species_group)=0
             |               THEN [CAST(NULL AS STRUCT(pos BIGINT, species VARCHAR, length_bins STRUCT(length_class VARCHAR, n BIGINT)[]))]
             |               ELSE list_transform(species_group, (g,i) -> {'pos': i, 'species': g.species, 'length_bins': g.length_bins}) END) AS sg
             |      FROM s),
             |b AS (SELECT submission_id, location, (sg).pos AS n_catch, (sg).species AS species,
             |        unnest(CASE WHEN (sg).length_bins IS NULL OR len((sg).length_bins)=0
             |               THEN [CAST(NULL AS STRUCT(length_class VARCHAR, n BIGINT))]
             |               ELSE (sg).length_bins END) AS bin
             |      FROM a)
             |SELECT submission_id, n_catch, species,
             |  CAST(string_split(location,' ')[1] AS DOUBLE) AS lat,
             |  CASE WHEN (bin).length_class='5_10' THEN 7.5 WHEN (bin).length_class='10_15' THEN 12.5
             |       WHEN (bin).length_class='15_20' THEN 17.5 WHEN (bin).length_class='20_25' THEN 22.5
             |       WHEN (bin).length_class='25_30' THEN 27.5 WHEN (bin).length_class='30_35' THEN 32.5
             |       WHEN (bin).length_class='35_40' THEN 37.5 WHEN (bin).length_class='40_45' THEN 42.5
             |       WHEN (bin).length_class='45_50' THEN 47.5 WHEN (bin).length_class='50_55' THEN 52.5
             |       WHEN (bin).length_class='55_60' THEN 57.5
             |       ELSE CAST((bin).length_class AS DOUBLE) END AS length,
             |  CAST((bin).n AS DOUBLE) AS individuals
             |FROM b ORDER BY submission_id, n_catch NULLS FIRST, length NULLS FIRST""".stripMargin)),

    // S11 — GeoJSON source: features flattened to properties + geometry
    // attributes (geometry carried structurally, not parsed spatially —
    // the reference joins on `region`, never on geometry,
    // R/export.R:741-746).
    Q("q54_geojson_regions",
      (s, d) => {
        import s.implicits._
        s.read.option("multiLine", true).json(s"$FixturesDir/regions.geojson")
          .select(explode($"features").as("f"))
          .select(
            $"f.properties.region".as("region"),
            $"f.properties.district".as("district"),
            $"f.properties.pop".cast("long").as("pop"),
            $"f.geometry.type".as("geom_type"),
            size(element_at($"f.geometry.coordinates", 1)).cast("long").as("n_ring_points"))
          .orderBy($"district")
      },
      Some(s"""SELECT (f).properties.region AS region, (f).properties.district AS district,
             |  CAST((f).properties.pop AS BIGINT) AS pop,
             |  (f).geometry."type" AS geom_type,
             |  CAST(len((f).geometry.coordinates[1]) AS BIGINT) AS n_ring_points
             |FROM (SELECT unnest(features) AS f FROM read_json_auto('$FixturesDir/regions.geojson'))
             |ORDER BY district""".stripMargin)),

    // S3/S4/S5 — versioned parquet staging round-trip: two writes, the
    // reader resolves the newest tag (lexicographic == chronological).
    Q("q55_versioned_io",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q55_versioned")
        val base = Tables.lineitem(s, d).agg(count(lit(1)).as("n"))
        Versioned.write(base.withColumn("version_marker", lit("v1")), dir, "stage", "00000001_aaa")
        Versioned.writeLz4(base.withColumn("version_marker", lit("v2")), dir, "stage", "00000002_bbb")
        Versioned.readLatest(s, dir, "stage").select($"version_marker", $"n")
      },
      Some("SELECT 'v2' AS version_marker, count(*) AS n FROM lineitem")),

    // S9 — upsert diff: creates = left_anti, updates = left_semi
    // (device_sync, R/airtable.R:324-420).
    Q("q56_upsert_diff",
      (s, d) => {
        import s.implicits._
        val incoming = Tables.customer(s, d)
          .filter($"c_custkey" >= 100 && $"c_custkey" < 300)
        val existing = Tables.customer(s, d).filter($"c_custkey" < 200)
        val (creates, updates) = graft.io.DocumentSink.upsertDiff(incoming, existing, "c_custkey")
        creates.select($"c_custkey", lit("create").as("action"))
          .unionByName(updates.select($"c_custkey", lit("update").as("action")))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey,
             |  CASE WHEN c_custkey < 200 THEN 'update' ELSE 'create' END AS action
             |FROM customer WHERE c_custkey >= 100 AND c_custkey < 300
             |ORDER BY c_custkey""".stripMargin)),

    // J12 — natural join: Spark DataFrames have no implicit natural join;
    // the operator enumerates the shared columns explicitly.
    Q("q57_natural_join",
      (s, d) => {
        import s.implicits._
        val t1 = Tables.nation(s, d).select($"n_nationkey".as("nationkey"), $"n_name")
        val t2 = Tables.customer(s, d)
          .groupBy($"c_nationkey".as("nationkey"))
          .agg(count(lit(1)).as("n_customers"))
        val shared = t1.columns.intersect(t2.columns).toSeq
        t1.join(t2, shared, "inner").orderBy($"nationkey")
      },
      Some("""SELECT n_nationkey AS nationkey, n_name, n_customers
             |FROM nation JOIN (SELECT c_nationkey, count(*) AS n_customers
             |                  FROM customer GROUP BY 1) c
             |  ON n_nationkey = c_nationkey
             |ORDER BY nationkey""".stripMargin)),

    // J13 — suffix disambiguation: right side pre-renamed with "_first"
    // (dplyr suffix = c("", "_kobo"), R/validation.R:1128-1133).
    Q("q58_suffix_join",
      (s, d) => {
        import s.implicits._
        val o = Tables.orders(s, d)
        val firsts = o.groupBy($"o_custkey")
          .agg(min($"o_orderkey").as("o_orderkey"), min_by($"o_totalprice", $"o_orderkey").as("o_totalprice"))
        val renamed = firsts.columns.foldLeft(firsts) { (df, c) =>
          if (c == "o_custkey") df else df.withColumnRenamed(c, s"${c}_first")
        }
        o.join(renamed, Seq("o_custkey"), "left")
          .filter($"o_orderkey" < 300)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice",
            $"o_orderkey_first", $"o_totalprice_first")
          .orderBy($"o_orderkey")
      },
      Some("""WITH f AS (
             |  SELECT o_custkey, min(o_orderkey) AS o_orderkey_first,
             |         arg_min(o_totalprice, o_orderkey) AS o_totalprice_first
             |  FROM orders GROUP BY 1)
             |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
             |       f.o_orderkey_first, f.o_totalprice_first
             |FROM orders o LEFT JOIN f USING (o_custkey)
             |WHERE o.o_orderkey < 300 ORDER BY o.o_orderkey""".stripMargin)),

    // O5 — last-per-key with an explicit order (slice_tail made
    // deterministic, §7.4).
    Q("q59_last_per_key",
      (s, d) => {
        import s.implicits._
        Tables.supplier(s, d)
          .groupBy($"s_nationkey")
          .agg(max($"s_suppkey").as("last_suppkey"),
            max_by($"s_name", $"s_suppkey").as("last_name"),
            max_by($"s_acctbal", $"s_suppkey").as("last_acctbal"))
          .orderBy($"s_nationkey")
      },
      Some("""SELECT s_nationkey, max(s_suppkey) AS last_suppkey,
             |  arg_max(s_name, s_suppkey) AS last_name,
             |  arg_max(s_acctbal, s_suppkey) AS last_acctbal
             |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A17 — pivoted median matrix + within-group rank
    // (R/export.R:795-821).
    Q("q60_median_matrix",
      (s, d) => {
        import s.implicits._
        val agg = Tables.orders(s, d)
          .groupBy($"o_orderstatus", $"o_orderpriority")
          .agg(r4(expr("percentile(o_totalprice, 0.5)")).as("med_price"))
        val w = Window.partitionBy($"o_orderstatus")
          .orderBy($"med_price".desc, $"o_orderpriority".asc)
        agg.withColumn("rank", row_number().over(w).cast("long"))
          .orderBy($"o_orderstatus", $"rank")
      },
      Some("""WITH a AS (
             |  SELECT o_orderstatus, o_orderpriority,
             |         round(quantile_cont(o_totalprice, 0.5), 4) AS med_price
             |  FROM orders GROUP BY 1,2)
             |SELECT o_orderstatus, o_orderpriority, med_price,
             |  row_number() OVER (PARTITION BY o_orderstatus
             |                     ORDER BY med_price DESC, o_orderpriority) AS rank
             |FROM a ORDER BY o_orderstatus, rank""".stripMargin)),

    // R5 + P9 — pivot wider → drop empty columns → unpivot back
    // (R/export.R:373-381). '3-MEDIUM' rows are filtered before the
    // pivot but kept in the value list, producing the all-null column
    // the drop pass removes.
    Q("q61_pivot_roundtrip",
      (s, d) => {
        import s.implicits._
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val wide = Tables.orders(s, d)
          .filter($"o_orderpriority" =!= "3-MEDIUM")
          .groupBy($"o_orderstatus")
          .pivot("o_orderpriority", prios)
          .agg(moneySum($"o_totalprice"))
        val counts = wide.select(wide.columns.map(c => count(col(c)).as(c)): _*).head()
        val keep = wide.columns.zipWithIndex.collect {
          case (c, i) if counts.getLong(i) > 0 => c
        }
        Reshape.unpivot(wide.select(keep.map(col): _*), Seq("o_orderstatus"),
            keep.filter(_ != "o_orderstatus"), "prio", "spend")
          .orderBy($"o_orderstatus", $"prio")
      },
      Some("""WITH a AS (
             |  SELECT o_orderstatus,
             |    sum(CASE WHEN o_orderpriority='1-URGENT' THEN CAST(round(o_totalprice*100,0) AS BIGINT) END)/100.0 AS u,
             |    sum(CASE WHEN o_orderpriority='2-HIGH' THEN CAST(round(o_totalprice*100,0) AS BIGINT) END)/100.0 AS h,
             |    sum(CASE WHEN o_orderpriority='4-NOT SPECIFIED' THEN CAST(round(o_totalprice*100,0) AS BIGINT) END)/100.0 AS ns,
             |    sum(CASE WHEN o_orderpriority='5-LOW' THEN CAST(round(o_totalprice*100,0) AS BIGINT) END)/100.0 AS lo
             |  FROM orders WHERE o_orderpriority != '3-MEDIUM' GROUP BY 1)
             |SELECT o_orderstatus, '1-URGENT' AS prio, u AS spend FROM a
             |UNION ALL SELECT o_orderstatus, '2-HIGH', h FROM a
             |UNION ALL SELECT o_orderstatus, '4-NOT SPECIFIED', ns FROM a
             |UNION ALL SELECT o_orderstatus, '5-LOW', lo FROM a
             |ORDER BY o_orderstatus, prio""".stripMargin)),

    // P2/P7 — bulk rename by regex (strip the group prefix) + relocate
    // (R/preprocessing-surveys.R:78,103).
    Q("q62_bulk_rename_relocate",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d).filter($"l_orderkey" < 50)
        val stripped = li.columns.foldLeft(li) { (df, c) =>
          df.withColumnRenamed(c, c.replaceAll("^l_", ""))
        }
        val keys = Seq("orderkey", "linenumber")
        val rest = stripped.columns.filterNot(keys.contains).sorted.toSeq
        stripped.select((keys ++ rest).map(col): _*)
          .orderBy(stripped.columns.map(col).toIndexedSeq: _*)
      },
      Some("""SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
             |  l_discount AS discount, l_extendedprice AS extendedprice,
             |  l_linestatus AS linestatus, l_partkey AS partkey,
             |  l_quantity AS quantity, l_returnflag AS returnflag,
             |  l_shipdate AS shipdate, l_suppkey AS suppkey, l_tax AS tax
             |FROM lineitem WHERE l_orderkey < 50
             |ORDER BY 1,2,3,4,5,6,7,8,9,10,11""".stripMargin)),

    // R1/R6 on the reference's RAW wide shape: repeat groups encoded in
    // column NAMES (`species_group.K.species_group/field`) → long rows
    // with n_catch = K + 1, empty positions dropped
    // (R/survey-reshaping.R:25-86). One posexplode over plan-time
    // structs — no union of per-position scans, no shuffle.
    Q("q66_wide_reshape",
      (s, d) => {
        import s.implicits._
        val wide = s.read.json(s"$FixturesDir/wide_submissions.json")
        graft.ops.WideReshape.reshapeSpeciesGroups(wide)
          .select($"submission_id", $"n_catch",
            $"selected_species", $"collection_type",
            $"n_buckets", $"weight_bucket", $"catch_estimate",
            col("no_fish_by_length_group/no_individuals_5_10").as("ni_5_10"),
            col("no_fish_by_length_group/no_individuals_10_15").as("ni_10_15"))
          .orderBy($"submission_id", $"n_catch")
      },
      Some(s"""WITH w AS (SELECT * FROM read_json_auto('$FixturesDir/wide_submissions.json')),
             |u AS (
             |  SELECT submission_id, CAST(1 AS BIGINT) AS n_catch,
             |    "species_group.0.species_group/selected_species" AS selected_species,
             |    "species_group.0.species_group/collection_type" AS collection_type,
             |    "species_group.0.species_group/n_buckets" AS n_buckets,
             |    "species_group.0.species_group/weight_bucket" AS weight_bucket,
             |    "species_group.0.species_group/catch_estimate" AS catch_estimate,
             |    "species_group.0.species_group/no_fish_by_length_group/no_individuals_5_10" AS ni_5_10,
             |    "species_group.0.species_group/no_fish_by_length_group/no_individuals_10_15" AS ni_10_15
             |  FROM w
             |  UNION ALL
             |  SELECT submission_id, CAST(2 AS BIGINT),
             |    "species_group.1.species_group/selected_species",
             |    "species_group.1.species_group/collection_type",
             |    "species_group.1.species_group/n_buckets",
             |    "species_group.1.species_group/weight_bucket",
             |    "species_group.1.species_group/catch_estimate",
             |    "species_group.1.species_group/no_fish_by_length_group/no_individuals_5_10",
             |    "species_group.1.species_group/no_fish_by_length_group/no_individuals_10_15"
             |  FROM w
             |  UNION ALL
             |  SELECT submission_id, CAST(3 AS BIGINT),
             |    "species_group.2.species_group/selected_species",
             |    "species_group.2.species_group/collection_type",
             |    "species_group.2.species_group/n_buckets",
             |    "species_group.2.species_group/weight_bucket",
             |    "species_group.2.species_group/catch_estimate",
             |    "species_group.2.species_group/no_fish_by_length_group/no_individuals_5_10",
             |    "species_group.2.species_group/no_fish_by_length_group/no_individuals_10_15"
             |  FROM w)
             |SELECT * FROM u
             |WHERE selected_species IS NOT NULL OR collection_type IS NOT NULL
             |   OR n_buckets IS NOT NULL OR weight_bucket IS NOT NULL
             |   OR catch_estimate IS NOT NULL OR ni_5_10 IS NOT NULL OR ni_10_15 IS NOT NULL
             |ORDER BY submission_id, n_catch""".stripMargin)),

    // Schema evolution across ingestion batches: an old producer wrote
    // (key, price); an evolved one added `priority`. mergeSchema reads
    // the union layout, the missing column back-fills NULL, and the
    // batch= directory name becomes a partition column (the lakehouse
    // drift pattern; the read would partition-prune on it). The oracle
    // recomputes from the source table with the same even/odd split.
    Q("q125_schema_evolution",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q125_evolve")
        val o = Tables.orders(s, d)
        o.filter($"o_orderkey" % 2 === 0)
          .select($"o_orderkey",
            round($"o_totalprice" * 100, 0).cast("long").as("price_cents"))
          .write.mode("overwrite").parquet(s"$dir/batch=1")
        o.filter($"o_orderkey" % 2 === 1)
          .select($"o_orderkey",
            round($"o_totalprice" * 100, 0).cast("long").as("price_cents"),
            $"o_orderpriority".as("priority"))
          .write.mode("overwrite").parquet(s"$dir/batch=2")
        s.read.option("mergeSchema", "true").parquet(dir)
          .groupBy(coalesce($"priority", lit("unknown")).as("priority"))
          .agg(count(lit(1)).as("n"), sum($"price_cents").as("sum_cents"))
          .orderBy($"priority")
      },
      Some("""SELECT
             |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
             |       ELSE 'unknown' END AS priority,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // STREAMING path under the batch oracle: the orders change-log is
    // replayed through StreamUpsert (foreachBatch merge into the V2
    // document store) as four chronological file-source micro-batches;
    // the FINAL store state must equal a plain batch last-per-key over
    // the whole history, which is what the oracle computes. The unique
    // ordering key `ord = eff_sec*1e7 + orderkey` makes within-batch
    // collision ties deterministic; one file per slice pins the batch
    // boundaries (replay harness shape — the operator itself never
    // coalesces). This is the one conformance row that executes the
    // streaming engine end-to-end (source -> foreachBatch -> store).
    Q("q156_stream_upsert_replay",
      (s, d) => {
        import s.implicits._
        val coll = "q156_store"
        graft.io.MemDocStore.drop(coll)
        val log = Tables.orders(s, d).select($"o_custkey",
            $"o_orderdate".cast("timestamp_ltz").cast("long").as("eff_sec"),
            $"o_orderkey", $"o_orderpriority",
            year($"o_orderdate").as("yr"))
          .withColumn("ord", $"eff_sec" * 10000000L + $"o_orderkey")
        val root = graft.core.Scratch.dir("q156_replay")
        val slices = Seq(
          ("s1", $"yr" <= 1993),
          ("s2", $"yr" === 1994 || $"yr" === 1995),
          ("s3", $"yr" === 1996),
          ("s4", $"yr" >= 1997))
        slices.foreach { case (name, cond) =>
          log.filter(cond).drop("yr").coalesce(1)
            .write.mode("overwrite").parquet(s"$root/$name")
          val stream = s.readStream
            .schema(log.drop("yr").schema)
            .parquet(s"$root/$name")
          val q = graft.streaming.StreamUpsert.run(stream, coll,
            "o_custkey", "ord")
          q.processAllAvailable()
          q.stop()
        }
        graft.io.DocumentSink.pullFrom(s, graft.io.MemDocStore.Format,
            Map("collection" -> coll))
          .select($"o_custkey", $"o_orderkey",
            $"o_orderpriority".as("priority"), $"eff_sec")
          .orderBy($"o_custkey")
      },
      Some("""WITH log AS (
             |  SELECT o_custkey, o_orderkey, o_orderpriority,
             |    epoch_us(o_orderdate) // 1000000 AS eff_sec,
             |    (epoch_us(o_orderdate) // 1000000) * 10000000 + o_orderkey AS ord
             |  FROM orders),
             |w AS (
             |  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY ord DESC) AS rn
             |  FROM log)
             |SELECT o_custkey, o_orderkey, o_orderpriority AS priority, eff_sec
             |FROM w WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // Incremental/delta pipeline cycle (the capability the reference
    // lacks — it reprocesses the full snapshot every run): the prior
    // per-(district, month) state and the new raw delta land as
    // versioned objects; the cycle reads ONLY those two, folds the
    // delta's rollup into the state, and publishes the next version.
    // The oracle is the FULL REPROCESS over the complete tables, so a
    // green row proves incremental ≡ full bit-for-bit — including the
    // late-arriving rows the mid-month cutoff forces into months the
    // prior state already holds.
    Q("q340_incremental_pipeline",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q340_incremental")
        val o = Tables.orders(s, d)
        val li = Tables.lineitem(s, d)
        val full = li.join(o, $"l_orderkey" === $"o_orderkey")
          .select($"o_orderpriority".as("district"),
            trunc(to_date($"o_orderdate"), "month").as("month"),
            to_date($"o_orderdate").as("day"),
            $"l_extendedprice".as("price"))
        // mid-month cutoff: the cut month straddles prior state and
        // delta — the merge must add into an existing group
        val cutoff = to_date(lit("1997-06-15"))
        val prior = full.filter($"day" < cutoff)
        val delta = full.filter($"day" >= cutoff)
        Versioned.write(
          graft.ops.IncrementalAgg.rollupState(prior,
            Seq("district", "month"), $"price"),
          dir, "state", "00000001_aaa")
        Versioned.write(delta, dir, "raw_delta", "00000002_bbb")
        // the incremental run: scans ONLY the two versioned objects
        graft.pipeline.Incremental.deltaCycle(s, dir, "state", "raw_delta",
            Seq("district", "month"), $"price", "00000002_bbb")
          .select($"district", $"month", $"n".as("n_rows"), $"sum_cents")
          .orderBy($"district", $"month")
      },
      Some("""SELECT o_orderpriority AS district,
             |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             |    AS sum_cents
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1, 2
             |ORDER BY 1, 2""".stripMargin)),

    // Incremental LSH dedup cycle: the prior corpus contributes ONLY
    // its versioned signature state (id, shingles, minhash sig); the
    // delta batch re-hashes itself, probes the stored band index, and
    // reports every NEW duplicate pair (cross-version + intra-batch).
    // The oracle is the full-corpus replay of the same screen
    // restricted to pairs touching the delta — incremental ≡ full.
    Q("q342_incremental_lsh_dedup",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q342_lsh")
        val docs = Tables.documents(s, d)
        Versioned.write(
          graft.ext.Dedup.signatureState(docs.filter($"doc_id" % 17 =!= 0),
            "doc_id", "text", n = 2, bands = 21, rowsPerBand = 3),
          dir, "lshstate", "00000001_aaa")
        Versioned.write(docs.filter($"doc_id" % 17 === 0),
          dir, "lshraw", "00000002_bbb")
        graft.pipeline.Incremental.lshDedupCycle(s, dir, "lshstate",
            "lshraw", "doc_id", "text", n = 2, threshold = 0.2,
            bands = 21, rowsPerBand = 3, newTag = "00000002_bbb")
          .select($"batch_id", $"corpus_id",
            graft.core.Exact.r4($"jaccard").as("jaccard"))
          .orderBy($"batch_id", $"corpus_id")
      },
      Some(lshCycleOracleSql("doc_id % 17 = 0"))),

    // The LSH signature store over a BUCKET-PARTITIONED root — the
    // 100 TB write path for the dedup state (the object-versioned q342
    // twin publishes state ∪ delta whole per cycle). Buckets are
    // monotone id ranges (id div 64): new docs cluster in tail buckets,
    // re-ingested ids rewrite exactly their own buckets (bucket is a
    // pure function of the id — the same locating contract as
    // resubmission months in q390), untouched buckets are never listed
    // (PartitionedStateSpec pins them byte-identical and certifies the
    // bytes drop). The delta here mixes NEW docs (every 17th) with
    // RE-INGESTS of existing docs (every 31st, text unchanged — their
    // stale signature rows are replaced, never duplicated); the oracle
    // is the full-corpus replay with the batch predicate covering both.
    Q("q395_lsh_partitioned_store",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q395_plsh")
        val docs = Tables.documents(s, d)
        val bw = 64L
        Versioned.writePartitionedFull(
          graft.ext.Dedup.signatureState(docs.filter($"doc_id" % 17 =!= 0),
              "doc_id", "text", n = 2, bands = 21, rowsPerBand = 3)
            .withColumn("bucket",
              graft.pipeline.Incremental.idBucket($"id", bw)),
          dir, "plsh_state", Seq("bucket"))
        Versioned.write(
          docs.filter($"doc_id" % 17 === 0 || $"doc_id" % 31 === 0),
          dir, "plsh_raw", "00000002_bbb")
        graft.pipeline.Incremental.lshDedupPartitionedCycle(s, dir,
            "plsh_state", "plsh_raw", "doc_id", "text", n = 2,
            threshold = 0.2, bands = 21, rowsPerBand = 3, bucketWidth = bw)
          .select($"batch_id", $"corpus_id",
            graft.core.Exact.r4($"jaccard").as("jaccard"))
          .orderBy($"batch_id", $"corpus_id")
      },
      Some(lshCycleOracleSql("(doc_id % 17 = 0 OR doc_id % 31 = 0)"))),

    // Tombstone deletion over the bucket-partitioned signature store —
    // q385's 100 TB twin: the tombstoned ids' buckets derive from the
    // ids themselves, so the purge reads AND rewrites only those
    // buckets; the O(dup-pairs) ledger stays object-versioned and
    // components recompute over the purged ledger alone. Oracle = the
    // full simhash-components rebuild over surviving docs (q385's).
    Q("q396_lsh_partitioned_delete",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q396_plshdel")
        val docs = Tables.documents(s, d)
        val bw = 64L
        Versioned.writePartitionedFull(
          graft.ext.Dedup.signatureState(docs, "doc_id", "text", n = 2,
              bands = 21, rowsPerBand = 3)
            .withColumn("bucket",
              graft.pipeline.Incremental.idBucket($"id", bw)),
          dir, "pdel_sig", Seq("bucket"))
        Versioned.write(
          graft.ext.Dedup.simHashPairsBanded(docs, "doc_id", "text",
            maxDist = 6),
          dir, "pdel_ledger", "00000001_aaa")
        Versioned.write(
          docs.filter($"doc_id" % 13 === 0).select($"doc_id".as("id")),
          dir, "pdel_tomb", "00000002_bbb")
        graft.pipeline.Incremental.lshDeletePartitionedCycle(s, dir,
            "pdel_sig", "pdel_ledger", "pdel_tomb", bucketWidth = bw,
            newTag = "00000002_bbb")
          .select($"id".as("doc_id"), $"canonical_id", $"n_group")
          .orderBy($"canonical_id", $"doc_id")
      },
      Some(dedupDeleteOracleSql)),

    // Incremental SCD2 append: the prior interval table and the new
    // change-log delta land as versioned objects; the cycle re-opens
    // each touched key's CURRENT version into the collapse, continues
    // version numbers from the prior maximum, and passes untouched
    // keys through — oracle = the FULL-LOG rebuild (q108's shape), so
    // green proves append ≡ replay without the history scan.
    Q("q344_incremental_scd2",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q344_scd2")
        val log = Tables.orders(s, d).select($"o_custkey",
          $"o_orderdate".cast("timestamp_ltz").cast("long").as("eff_sec"),
          $"o_orderkey", $"o_orderpriority")
        val cutoff = 866332800L // 1997-06-15T00:00:00Z
        Versioned.write(
          graft.ops.Scd2.fromChangeLog(log.filter($"eff_sec" < cutoff),
              Seq("o_custkey"), Seq("o_orderpriority"), "eff_sec",
              Seq("o_orderkey"))
            .drop("o_orderkey"),
          dir, "scd2state", "00000001_aaa")
        Versioned.write(log.filter($"eff_sec" >= cutoff),
          dir, "scd2raw", "00000002_bbb")
        graft.pipeline.Incremental.scd2DeltaCycle(s, dir, "scd2state",
            "scd2raw", Seq("o_custkey"), Seq("o_orderpriority"),
            "eff_sec", "o_orderkey", newTag = "00000002_bbb")
          .select($"o_custkey", $"version",
            $"o_orderpriority".as("priority"),
            $"effective_from", $"effective_to", $"is_current")
          .orderBy($"o_custkey", $"version")
      },
      Some("""WITH log AS (
             |  SELECT o_custkey, epoch_us(o_orderdate) // 1000000 AS eff_sec,
             |    o_orderkey, o_orderpriority
             |  FROM orders),
             |chg AS (
             |  SELECT *,
             |    o_orderpriority IS DISTINCT FROM
             |      lag(o_orderpriority) OVER
             |        (PARTITION BY o_custkey ORDER BY eff_sec, o_orderkey) AS changed
             |  FROM log),
             |kept AS (SELECT * FROM chg WHERE changed)
             |SELECT o_custkey,
             |  CAST(row_number() OVER w AS BIGINT) AS version,
             |  o_orderpriority AS priority,
             |  eff_sec AS effective_from,
             |  lead(eff_sec) OVER w AS effective_to,
             |  lead(eff_sec) OVER w IS NULL AS is_current
             |FROM kept
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY eff_sec, o_orderkey)
             |ORDER BY o_custkey, version""".stripMargin)),

    // Incremental per-key top-k: the state is each customer's top-3
    // orders by exact cents — a bounded-state monoid (merge of top-k's
    // ≡ top-k of the union, since a discarded row can never re-enter).
    // Prior state + delta land versioned; the cycle merges delta's
    // top-k into the state and publishes. Oracle = top-3 over the FULL
    // table.
    Q("q345_incremental_topk",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q345_topk")
        val o = Tables.orders(s, d).select($"o_custkey",
          $"o_orderdate".cast("timestamp_ltz").cast("long").as("sec"),
          $"o_orderkey",
          round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        val cutoff = 866332800L
        Versioned.write(
          graft.ops.IncrementalAgg.topKState(
            o.filter($"sec" < cutoff).drop("sec"),
            Seq("o_custkey"), "cents", "o_orderkey", k = 3),
          dir, "topkstate", "00000001_aaa")
        Versioned.write(o.filter($"sec" >= cutoff).drop("sec"),
          dir, "topkraw", "00000002_bbb")
        val state = Versioned.readLatest(s, dir, "topkstate")
        val delta = Versioned.readLatest(s, dir, "topkraw")
        val merged = graft.ops.IncrementalAgg.mergeTopKStates(
          Seq("o_custkey"), "cents", "o_orderkey", 3,
          state,
          graft.ops.IncrementalAgg.topKState(delta, Seq("o_custkey"),
            "cents", "o_orderkey", 3))
        Versioned.write(merged, dir, "topkstate_next", "00000002_bbb")
        merged.select($"o_custkey", $"rnk", $"o_orderkey", $"cents")
          .orderBy($"o_custkey", $"rnk")
      },
      Some("""WITH r AS (
             |  SELECT o_custkey,
             |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             |    o_orderkey,
             |    CAST(row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT) DESC,
             |        o_orderkey) AS BIGINT) AS rnk
             |  FROM orders)
             |SELECT o_custkey, rnk, o_orderkey, cents
             |FROM r WHERE rnk <= 3
             |ORDER BY o_custkey, rnk""".stripMargin)),

    // Incremental duplicate components: the dup-pair LEDGER is the
    // versioned state (O(dups), not O(corpus)); a delta batch appends
    // its new pairs and components recompute over the merged ledger
    // ONLY — the corpus text is never rescanned in the cycle. Oracle =
    // full-corpus SimHash components (q68's shape): prior-prior pairs
    // ∪ delta-touching pairs IS the full pair set, so ledger-derived
    // components ≡ full-rebuild components.
    Q("q347_incremental_components",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q347_components")
        val docs = Tables.documents(s, d)
        val pairs = graft.ext.Dedup.simHashPairsBanded(docs, "doc_id",
          "text", maxDist = 6)
        Versioned.write(
          pairs.filter($"id_a" % 17 =!= 0 && $"id_b" % 17 =!= 0),
          dir, "pairledger", "00000001_aaa")
        Versioned.write(
          pairs.filter($"id_a" % 17 === 0 || $"id_b" % 17 === 0),
          dir, "pairdelta", "00000002_bbb")
        val ledger = Versioned.readLatest(s, dir, "pairledger")
        val delta = Versioned.readLatest(s, dir, "pairdelta")
        val merged = ledger.unionByName(delta).distinct()
        Versioned.write(merged, dir, "pairledger_next", "00000002_bbb")
        val ids = merged.select($"id_a".as("doc_id"))
          .unionAll(merged.select($"id_b".as("doc_id"))).distinct()
        graft.ext.Dedup.duplicateGroups(merged, ids, "doc_id")
          .select($"id".as("doc_id"), $"canonical_id", $"n_group")
          .orderBy($"canonical_id", $"doc_id")
      },
      Some("""WITH RECURSIVE th AS (
             |  SELECT doc_id,
             |    list_transform(string_split_regex(trim(text),'\s+'), s ->
             |      list_reduce(list_prepend(CAST(0 AS BIGINT),
             |        list_transform(generate_series(1, length(s)), i -> CAST(ascii(substring(s, i, 1)) AS BIGINT))),
             |      (a,b) -> (a*31 + b) % 1000000007)) AS hs
             |  FROM documents),
             |bits AS (
             |  SELECT doc_id, j,
             |    CASE WHEN coalesce(list_sum(list_transform(hs, h ->
             |      CASE WHEN ((h * ((1103515245 * j) % 2038074743) + ((12345 * j + 7) % 2038074743)) % 2038074743) % 2 = 1
             |           THEN 1 ELSE -1 END)), 0) > 0
             |         THEN (CAST(1 AS BIGINT) << CAST(j - 1 AS INT)) ELSE 0 END AS bit
             |  FROM th CROSS JOIN range(1, 64) t(j)),
             |sh AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sh FROM bits GROUP BY 1),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |  WHERE bit_count(xor(a.sh, b.sh)) <= 6),
             |edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM pairs
             |  UNION ALL SELECT id_b, id_a FROM pairs),
             |reach AS (
             |  SELECT doc_id AS id, doc_id AS lbl FROM documents
             |  UNION
             |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
             |comp AS (SELECT id, min(lbl) AS canonical_id FROM reach GROUP BY id),
             |sized AS (SELECT canonical_id, count(*) AS n_group FROM comp GROUP BY 1)
             |SELECT c.id AS doc_id, c.canonical_id, s.n_group
             |FROM comp c JOIN sized s USING (canonical_id)
             |WHERE s.n_group > 1
             |ORDER BY canonical_id, doc_id""".stripMargin)),

    // Tombstone DELETION lane for the dedup state (the third state
    // mutation after append/resubmit): a takedown batch anti-joins its
    // ids out of BOTH versioned dedup objects — the LSH signature state
    // (no future delta can band-collide with a deleted doc) and the
    // duplicate-pair ledger (every pair touching a deleted id leaves,
    // both endpoints) — and components recompute over the purged ledger
    // alone. Pairwise state deletes exactly: pairs-minus-deleted ≡
    // pairs-over-survivors, so the oracle is the FULL simhash-components
    // rebuild over the surviving documents. IncrementalSpec additionally
    // pins that the published state contains no tombstoned id and that
    // band candidates derived from it never touch one.
    Q("q385_dedup_delete",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q385_deldedup")
        val docs = Tables.documents(s, d)
        Versioned.write(
          graft.ext.Dedup.signatureState(docs, "doc_id", "text", n = 2,
            bands = 21, rowsPerBand = 3),
          dir, "delsig", "00000001_aaa")
        Versioned.write(
          graft.ext.Dedup.simHashPairsBanded(docs, "doc_id", "text",
            maxDist = 6),
          dir, "delledger", "00000001_aaa")
        Versioned.write(
          docs.filter($"doc_id" % 13 === 0).select($"doc_id".as("id")),
          dir, "deltomb", "00000002_bbb")
        graft.pipeline.Incremental.dedupDeleteCycle(s, dir, "delsig",
            "delledger", "deltomb", "00000002_bbb")
          .select($"id".as("doc_id"), $"canonical_id", $"n_group")
          .orderBy($"canonical_id", $"doc_id")
      },
      Some(dedupDeleteOracleSql)),

    // Incremental EXACT quantile over a bounded-cardinality value: the
    // state is a per-(flag, quantity) counts HISTOGRAM (≤ 50 distinct
    // quantities — the state is tiny and the merge is a monoid), so
    // the delta cycle maintains an exact lower median without holding
    // or re-scanning history. The holistic-aggregate escape hatch:
    // when the value domain is bounded, exact quantiles ARE
    // incremental. Oracle = exact median over the full table.
    Q("q348_incremental_histogram_median",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q348_hist")
        val li = Tables.lineitem(s, d).select(
          $"l_returnflag".as("flag"),
          $"l_quantity".cast("long").as("v"),
          $"l_shipdate".cast("timestamp_ltz").cast("long").as("sec"))
        val cutoff = 866332800L
        Versioned.write(
          li.filter($"sec" < cutoff).groupBy($"flag", $"v")
            .agg(count(lit(1)).as("n")),
          dir, "histstate", "00000001_aaa")
        Versioned.write(li.filter($"sec" >= cutoff).drop("sec"),
          dir, "histraw", "00000002_bbb")
        val state = Versioned.readLatest(s, dir, "histstate")
        val delta = Versioned.readLatest(s, dir, "histraw")
        val merged = state.unionByName(
            delta.groupBy($"flag", $"v").agg(count(lit(1)).as("n")))
          .groupBy($"flag", $"v").agg(sum($"n").as("n"))
        Versioned.write(merged, dir, "histstate_next", "00000002_bbb")
        // lower median from the cumulative histogram: windows run over
        // ≤ 50 rows per flag — bounded by the value domain, not data
        val wc = Window.partitionBy($"flag").orderBy($"v")
        val wt = Window.partitionBy($"flag")
        merged
          .withColumn("cum", sum($"n").over(wc))
          .withColumn("tot", sum($"n").over(wt))
          .filter($"cum" * 2 >= $"tot" + 1)
          .groupBy($"flag")
          .agg(max($"tot").as("n_rows"), min($"v").as("median_lo"))
          .orderBy($"flag")
      },
      Some("""WITH h AS (
             |  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS v,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM lineitem GROUP BY 1, 2),
             |c AS (
             |  SELECT flag, v, n,
             |    sum(n) OVER (PARTITION BY flag ORDER BY v) AS cum,
             |    sum(n) OVER (PARTITION BY flag) AS tot
             |  FROM h)
             |SELECT flag, CAST(max(tot) AS BIGINT) AS n_rows,
             |  CAST(min(v) AS BIGINT) AS median_lo
             |FROM c WHERE cum * 2 >= tot + 1
             |GROUP BY flag ORDER BY flag""".stripMargin)),

    // Incremental sessionization — the boundary-session merge: prior
    // sessions are versioned state; delta events (strictly later) can
    // only extend each touched user's LAST session or open new ones.
    // The open session re-enters the gap chain as one synthetic event
    // at its end instant; the recomputed carry session absorbs its
    // aggregates. Oracle = sessionize over ALL events.
    Q("q349_incremental_sessionize",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q349_sess")
        val ev = Tables.events(s, d).select($"user_id",
          $"ts".cast("long").as("sec"),
          round($"value" * 100, 0).cast("long").as("cents"))
        val cutoff = 1705363200L // 2024-01-16T00:00:00Z
        Versioned.write(
          graft.pipeline.Incremental.sessionizeCents(
            ev.filter($"sec" < cutoff), gapSec = 1800L),
          dir, "sessstate", "00000001_aaa")
        Versioned.write(ev.filter($"sec" >= cutoff),
          dir, "sessraw", "00000002_bbb")
        graft.pipeline.Incremental.sessionizeDeltaCycle(s, dir,
            "sessstate", "sessraw", gapSec = 1800L,
            newTag = "00000002_bbb")
          .orderBy($"user_id", $"session_start")
      },
      Some("""WITH e AS (
             |  SELECT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec,
             |    CAST(round(value * 100, 0) AS BIGINT) AS cents
             |  FROM events),
             |s AS (
             |  SELECT *, CASE WHEN lag(sec) OVER w IS NULL
             |      OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS ns
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)),
             |g AS (
             |  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY sec
             |    ROWS UNBOUNDED PRECEDING) AS sn
             |  FROM s)
             |SELECT user_id, CAST(min(sec) AS BIGINT) AS session_start,
             |  CAST(max(sec) AS BIGINT) AS session_end,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  CAST(sum(cents) AS BIGINT) AS cents
             |FROM g GROUP BY user_id, sn
             |ORDER BY user_id, session_start""".stripMargin)),

    // Incremental inverted index + BM25 serving: the postings table is
    // the versioned state (doc sets disjoint across versions → the
    // merge is a plain append; df/cf/avgdl re-derive by monoid sums);
    // the delta batch tokenizes only itself. Serving is index-only:
    // query panel = the index's 3 hottest terms, BM25 top-10. Oracle =
    // the same retrieval over the FULL corpus.
    Q("q350_incremental_bm25",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q350_bm25")
        val docs = Tables.documents(s, d)
        Versioned.write(
          docs.filter($"doc_id" % 17 =!= 0)
            .select($"doc_id".as("id"),
              explode(graft.ext.TextAnalysis.tokens($"text")).as("tok"))
            .groupBy($"id", $"tok").agg(count(lit(1)).as("tf")),
          dir, "postings", "00000001_aaa")
        Versioned.write(docs.filter($"doc_id" % 17 === 0),
          dir, "docsraw", "00000002_bbb")
        graft.pipeline.Incremental.bm25IndexCycle(s, dir, "postings",
            "docsraw", "doc_id", "text", qTerms = 3, k = 10,
            newTag = "00000002_bbb")
          .orderBy($"rnk")
      },
      Some("""WITH post AS (
             |  SELECT doc_id AS id, tok, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT doc_id,
             |          unnest(string_split_regex(trim(text), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY 1, 2),
             |st AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS nd,
             |        CAST(sum(tf) AS BIGINT) AS tot FROM post),
             |dfts AS (SELECT tok, CAST(count(*) AS BIGINT) AS df,
             |        CAST(sum(tf) AS BIGINT) AS cf FROM post GROUP BY 1),
             |qt AS (SELECT tok, df FROM dfts ORDER BY cf DESC, tok LIMIT 3),
             |dls AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY 1),
             |sc AS (
             |  SELECT p.id, CAST(sum(CAST(round(
             |      ln((CAST(nd AS DOUBLE) - CAST(qt.df AS DOUBLE)
             |          + CAST(0.5 AS DOUBLE))
             |        / (CAST(qt.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
             |        + CAST(1.0 AS DOUBLE))
             |      * (CAST(p.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
             |        / (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
             |          * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
             |            * CAST(dls.dl AS DOUBLE)
             |            / (CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE)))))
             |      * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS BIGINT)
             |    AS score_micro
             |  FROM post p JOIN qt USING (tok) JOIN dls USING (id)
             |  CROSS JOIN st GROUP BY 1)
             |SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, id)
             |    AS BIGINT) AS rnk,
             |  id AS doc_id, score_micro
             |FROM sc QUALIFY rnk <= 10 ORDER BY rnk""".stripMargin)),

    // Corpus data card: the one-row-per-source release manifest —
    // volume, length profile (exact lower-median tokens via the
    // bounded-value histogram), exact-dup rate, URL-bearing rate.
    Q("q354_corpus_datacard",
      (s, d) => {
        import s.implicits._
        graft.ext.CorpusOps.dataCard(Tables.documents(s, d), "doc_id",
            "text", "source", "n_chars")
          .orderBy($"source")
      },
      Some("""WITH b AS (
             |  SELECT source, CAST(n_chars AS BIGINT) AS n_chars,
             |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             |      AS n_tok,
             |    text
             |  FROM documents),
             |a AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |    CAST(count(DISTINCT text) AS BIGINT) AS n_distinct,
             |    CAST(sum(CASE WHEN position('http' IN text) > 0
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_url
             |  FROM b GROUP BY 1),
             |h AS (SELECT source, n_tok, CAST(count(*) AS BIGINT) AS m
             |      FROM b GROUP BY 1, 2),
             |c AS (SELECT source, n_tok, m,
             |    sum(m) OVER (PARTITION BY source ORDER BY n_tok) AS cum,
             |    sum(m) OVER (PARTITION BY source) AS tot
             |  FROM h),
             |md AS (SELECT source, CAST(min(n_tok) AS BIGINT) AS p50_tokens
             |  FROM c WHERE cum * 2 >= tot + 1 GROUP BY 1)
             |SELECT a.source, n_docs, n_tokens,
             |  CAST(round(CAST(sum_chars AS DOUBLE) * CAST(1000 AS DOUBLE)
             |    / CAST(n_docs AS DOUBLE)) AS BIGINT) AS mean_chars_milli,
             |  p50_tokens,
             |  CAST(round(CAST(n_docs - n_distinct AS DOUBLE)
             |    * CAST(1000 AS DOUBLE)
             |    / CAST(n_docs AS DOUBLE)) AS BIGINT) AS dup_milli,
             |  CAST(round(CAST(n_url AS DOUBLE) * CAST(1000 AS DOUBLE)
             |    / CAST(n_docs AS DOUBLE)) AS BIGINT) AS url_milli
             |FROM a JOIN md ON md.source = a.source
             |ORDER BY a.source""".stripMargin)),

    // Join-size profiler: exact self-join output cardinality per key
    // bucket from per-key counts alone (Σ cnt² — never the pair
    // blowup). The ORACLE RUNS THE ACTUAL JOIN and counts — equality
    // proves the estimator exact.
    Q("q355_join_size_profile",
      (s, d) => {
        import s.implicits._
        graft.ops.ScaleJoins.selfJoinSizeProfile(
            Tables.lineitem(s, d).select($"l_partkey"), "l_partkey",
            nBuckets = 8)
          .orderBy($"bucket")
      },
      Some("""WITH c AS (
             |  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c,
             |    CAST(l_partkey % 8 AS BIGINT) AS bucket
             |  FROM lineitem GROUP BY 1, 3),
             |est AS (
             |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_keys,
             |    CAST(sum(c) AS BIGINT) AS n_rows,
             |    CAST(max(c) AS BIGINT) AS max_key_rows
             |  FROM c GROUP BY 1),
             |act AS (
             |  SELECT CAST(a.l_partkey % 8 AS BIGINT) AS bucket,
             |    CAST(count(*) AS BIGINT) AS est_pairs
             |  FROM lineitem a JOIN lineitem b ON a.l_partkey = b.l_partkey
             |  GROUP BY 1)
             |SELECT est.bucket, n_keys, n_rows, act.est_pairs, max_key_rows
             |FROM est JOIN act ON act.bucket = est.bucket
             |ORDER BY est.bucket""".stripMargin)),

    // word2vec negative-sampling table: cf^0.75 sampling weights
    // (per-token pow micro-rounded BEFORE the vocab sum — a double sum
    // over the vocabulary would be partition-order-dependent) and
    // Mikolov frequent-word subsampling rates, top-20 tokens.
    Q("q356_negative_sampling",
      (s, d) => {
        import s.implicits._
        graft.ext.LangModel.negativeSamplingTable(Tables.documents(s, d),
          "text", topK = 20, tMilli = 1L)
      },
      Some("""WITH tk AS (
             |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
             |  FROM documents),
             |cf AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
             |       FROM tk GROUP BY 1),
             |w AS (SELECT tok, c,
             |    CAST(round(pow(CAST(c AS DOUBLE), CAST(0.75 AS DOUBLE))
             |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS wm
             |  FROM cf),
             |t AS (SELECT CAST(sum(c) AS BIGINT) AS tot,
             |        CAST(sum(wm) AS BIGINT) AS swm FROM w)
             |SELECT tok, c AS cf,
             |  CAST(round(CAST(wm AS DOUBLE) * CAST(1000000 AS DOUBLE)
             |    / CAST(swm AS DOUBLE)) AS BIGINT) AS p_micro,
             |  CAST(round(least(CAST(1.0 AS DOUBLE),
             |      sqrt(CAST(1 AS DOUBLE) / CAST(1000 AS DOUBLE)
             |        / (CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))))
             |    * CAST(1000000 AS DOUBLE)) AS BIGINT) AS keep_micro
             |FROM w CROSS JOIN t
             |ORDER BY cf DESC, tok LIMIT 20""".stripMargin)),

    // THE CHAINED incremental DAG — the reference's full nightly
    // topology (raw → preprocess → validate → export) in ONE delta run:
    // nested raw delta → repeat-group reshape + LW catch calc → flags
    // 1-7 with whole-submission exclusion → monthly rollup monoid-merged
    // into the prior state. Every stage consumes ONLY delta+state
    // (IncrementalSpec pins the whole chain's scan set); the oracle is
    // the FULL three-stage reprocess over the complete tables, so green
    // proves the COMPOSITION — no stage silently re-derives a full
    // input — not just each per-operator cycle.
    Q("q375_incremental_chain",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q375_chain")
        val lw = chainLwTable(s)
        val flat = chainSurveyFlat(s, d)
        def nest(df: org.apache.spark.sql.DataFrame) =
          df.groupBy($"submission_id", $"district", $"month")
            .agg(collect_list($"sg").as("species_groups"))
        val cutoff = to_date(lit("1998-06-15"))
        // submissions are atomic: the cutoff splits on submission day,
        // so a submission lives entirely in one batch (mid-month, so
        // June 1998 straddles state and delta — the merge must add
        // into an existing month group)
        Versioned.write(
          graft.ops.IncrementalAgg.rollupState(
            graft.pipeline.Incremental.surveyProcess(
              nest(flat.filter($"day" < cutoff)), lw),
            Seq("district", "month"), $"catch_kg"),
          dir, "chain_state", "00000001_aaa")
        Versioned.write(nest(flat.filter($"day" >= cutoff)).coalesce(4),
          dir, "chain_raw", "00000002_bbb")
        graft.pipeline.Incremental.chainedSurveyCycle(s, dir,
            "chain_state", "chain_raw", lw, "00000002_bbb")
          .select($"district", $"month", $"n".as("n_rows"), $"sum_cents")
          .orderBy($"district", $"month")
      },
      Some(chainOracleSql(RawBinNSql))),

    // Chained incremental cycle WITH RESUBMISSION: the delta carries
    // new submissions PLUS edited re-pulls of prior ones (the
    // reference's validator workflow, R/validation.R:968-1090 — here
    // the edit caps implausible individual counts at 900, un-flagging
    // the 1500-count flag-7 submissions). The state is per-SUBMISSION
    // contribution rows, so each resubmitted id RETRACTS its stale
    // contribution by anti-join before the corrected one folds in;
    // the monthly export derives from the published state. Oracle =
    // full reprocess with the edited rows authoritative.
    Q("q378_incremental_resubmit",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q378_resubmit")
        val lw = chainLwTable(s)
        val flat = chainSurveyFlat(s, d)
        def nest(df: org.apache.spark.sql.DataFrame) =
          df.groupBy($"submission_id", $"district", $"month")
            .agg(collect_list($"sg").as("species_groups"))
        val cutoff = to_date(lit("1998-06-15"))
        val prior = flat.filter($"day" < cutoff)
        // the validator's edit on every 23rd prior submission: halve
        // the individual counts (floor 1) — un-flags the seeded 1500
        // outliers AND changes every clean resubmission's catch_kg, so
        // the retraction path provably bites (IncrementalSpec pins it)
        val edited = prior.filter($"submission_id" % 23 === 0)
          .withColumn("sg", $"sg".withField("length_bins",
            transform($"sg.length_bins", b => struct(
              b.getField("length_class").as("length_class"),
              greatest(lit(1L), shiftright(b.getField("n"), 1)).as("n")))))
        Versioned.write(
          graft.pipeline.Incremental.submissionContrib(
            graft.pipeline.Incremental.surveyProcess(nest(prior), lw)),
          dir, "resub_state", "00000001_aaa")
        Versioned.write(
          nest(flat.filter($"day" >= cutoff).unionByName(edited))
            .coalesce(4),
          dir, "resub_raw", "00000002_bbb")
        graft.pipeline.Incremental.chainedResubmitCycle(s, dir,
            "resub_state", "resub_raw", lw, "00000002_bbb")
          .select($"district", $"month", $"n".as("n_rows"), $"sum_cents")
          .orderBy($"district", $"month")
      },
      Some(chainOracleSql(EditedBinNSql))),

    // Incremental GATED TRIP MERGE (merge_trips, R/merge-trips.R:44-73 —
    // the last reference stage without a delta lane): surveys and GPS
    // trips accumulate as versioned side states; the published merge
    // retracts every key TOUCHED by either delta and re-runs the 1:1
    // gate on just those keys' accumulated rows. The %5 split lands
    // delta rows on EXISTING (user, day) keys, so late-second-row
    // un-merges (published 1:1 → pass-throughs) and first-counterpart
    // fuses (two pass-throughs → one joined row) both bite
    // (IncrementalSpec pins each direction). Oracle = the FULL gated
    // merge over all events — green proves retract-and-remerge ≡ full.
    Q("q384_incremental_gated_merge",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q384_gated")
        val ev = Tables.events(s, d).withColumn("day", to_date($"ts"))
        val left = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"day", $"event_id".as("p_event"),
            $"value".as("p_value"))
        val right = ev.filter($"event_type" === "error")
          .select($"user_id", $"day", $"event_id".as("e_event"),
            $"value".as("e_value"))
        val keys = Seq("user_id", "day")
        Versioned.write(left.filter($"p_event" % 5 =!= 0), dir,
          "merge_left", "00000001_aaa")
        Versioned.write(right.filter($"e_event" % 5 =!= 0), dir,
          "merge_right", "00000001_aaa")
        Versioned.write(graft.ops.GatedMerge.gatedOneToOne(
            left.filter($"p_event" % 5 =!= 0),
            right.filter($"e_event" % 5 =!= 0), keys),
          dir, "merge_pub", "00000001_aaa")
        Versioned.write(left.filter($"p_event" % 5 === 0), dir,
          "merge_lraw", "00000002_bbb")
        Versioned.write(right.filter($"e_event" % 5 === 0), dir,
          "merge_rraw", "00000002_bbb")
        graft.pipeline.Incremental.gatedMergeCycle(s, dir, "merge_left",
            "merge_right", "merge_pub", "merge_lraw", "merge_rraw", keys,
            "00000002_bbb")
          .orderBy($"user_id", $"day", $"p_event".asc_nulls_first,
            $"e_event".asc_nulls_first)
      },
      Some("""WITH l AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day, event_id AS p_event, value AS p_value
             |  FROM events WHERE event_type = 'purchase'),
             |r AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day, event_id AS e_event, value AS e_value
             |  FROM events WHERE event_type = 'error'),
             |lc AS (SELECT *, count(*) OVER (PARTITION BY user_id, day) AS n FROM l),
             |rc AS (SELECT *, count(*) OVER (PARTITION BY user_id, day) AS n FROM r),
             |lu AS (SELECT user_id, day, p_event, p_value FROM lc WHERE n = 1),
             |ld AS (SELECT user_id, day, p_event, p_value FROM lc WHERE n > 1),
             |ru AS (SELECT user_id, day, e_event, e_value FROM rc WHERE n = 1),
             |rd AS (SELECT user_id, day, e_event, e_value FROM rc WHERE n > 1)
             |SELECT user_id, day, p_event, p_value, e_event, e_value
             |FROM lu FULL JOIN ru USING (user_id, day)
             |UNION ALL
             |SELECT user_id, day, p_event, p_value, NULL, NULL FROM ld
             |UNION ALL
             |SELECT user_id, day, NULL, NULL, e_event, e_value FROM rd
             |ORDER BY user_id, day, p_event NULLS FIRST, e_event NULLS FIRST""".stripMargin)),

    // THE COMPLETE reference topology, delta-only: raw → preprocess →
    // validate → MERGE_TRIPS → export in one chained cycle over the
    // object-versioned lane. The survey delta carries new submissions
    // PLUS resubmission edits (q378's validator workflow); the trips
    // delta lands a slice of the GPS trips late plus seeded second trips
    // onto already-published device-days — so submission-grain
    // retraction, the gated-merge un-merge/fuse flips, and the
    // state-only export all fire in ONE run. Oracle = the FULL
    // four-stage reprocess (preprocess+validate CTEs → per-submission
    // contributions → window-count gated 1:1 merge → survey-centric
    // monthly export).
    Q("q387_chained_trips",
      (s, d) => {
        val dir = graft.core.Scratch.dir("q387_trips")
        val f = topologyFixture(s, d, "1998-06-15", tripCut = None,
          edits = true, tomb = None, taxon = false)
        f.writeObjects(dir, "trg", manifest = false)
        f.writeDeltas(dir, "trg")
        Incremental.topologyCycle(s, dir, Incremental.objectLane(s, dir, Gen2),
            "trg_sstate", "trg_tstate", "trg_merged", "trg_sraw", "trg_traw",
            None, f.lw, TopologyExport.Monthly)
          .orderBy(col("district"), col("month"))
      },
      Some(tripsChainOracleSql)),

    // q387 published through the ATOMIC MULTI-ROOT MANIFEST: the three
    // state objects land first, then ONE manifest naming all three pins
    // commits last (tag-monotonic, atomic rename) — readers resolve
    // every prefix through the manifest and can never see a mixed
    // snapshot; a crash between publishes leaves them on the prior
    // consistent trio (ManifestSpec simulates it), a stale cycle fails
    // loudly at commit, an exact replay no-ops. Oracle = the same full
    // four-stage reprocess as q387's.
    Q("q400_manifest_topology",
      (s, d) => {
        val dir = graft.core.Scratch.dir("q400_manifest")
        val f = topologyFixture(s, d, "1998-06-15", tripCut = None,
          edits = true, tomb = None, taxon = false)
        f.writeObjects(dir, "man", manifest = true)
        f.writeDeltas(dir, "man")
        Incremental.topologyCycle(s, dir,
            Incremental.manifestLane(s, dir, "man_root", Gen2),
            "man_sstate", "man_tstate", "man_merged", "man_sraw", "man_traw",
            None, f.lw, TopologyExport.Monthly)
          .orderBy(col("district"), col("month"))
      },
      Some(tripsChainOracleSql)),

    // Derived-export stage of the chained DAG: the reference's export
    // ships MORE than the monthly rollup — top-N + "Other" species
    // composition (R/export.R:644-667) and a nested JSON catch doc
    // (R/export.R:417-437). The state keeps (submission, taxon) grain;
    // the cycle retracts resubmitted ids, publishes, and derives BOTH
    // products from the published state alone (no raw re-scan —
    // IncrementalSpec pins the scan set). The delta carries the q378
    // validator edit (every 23rd PRIOR submission re-pulls with halved
    // bin counts), so the TAXON-grain retraction anti-join is
    // oracle-checked here too, not just vacuously present. topN=3 so
    // the "Other" lump actually materializes over the 5-taxon fixture.
    // Oracle = the full reprocess through the same composition walk,
    // with the edit applied.
    Q("q388_chained_export",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q388_export")
        val lw = chainLwTable(s)
        val flat = chainSurveyFlat(s, d)
        def nest(df: org.apache.spark.sql.DataFrame) =
          df.groupBy($"submission_id", $"district", $"month")
            .agg(collect_list($"sg").as("species_groups"))
        val cutoff = to_date(lit("1998-06-15"))
        val prior = flat.filter($"day" < cutoff)
        val edited = prior.filter($"submission_id" % 23 === 0)
          .withColumn("sg", $"sg".withField("length_bins",
            transform($"sg.length_bins", b => struct(
              b.getField("length_class").as("length_class"),
              greatest(lit(1L), shiftright(b.getField("n"), 1)).as("n")))))
        Versioned.write(
          graft.pipeline.Incremental.submissionContrib(
            graft.pipeline.Incremental.surveyProcess(nest(prior), lw),
            Seq("catch_taxon")),
          dir, "expo_state", "00000001_aaa")
        Versioned.write(
          nest(flat.filter($"day" >= cutoff).unionByName(edited))
            .coalesce(4),
          dir, "expo_raw", "00000002_bbb")
        graft.pipeline.Incremental.chainedExportCycle(s, dir,
            "expo_state", "expo_raw", lw, topN = 3, "00000002_bbb")
          .orderBy($"district", $"month", $"rnk")
      },
      Some(chainCleanCtes(EditedBinNSql) + """,
        |contrib AS (
        |  SELECT district, month, catch_taxon AS taxon0,
        |    CAST(sum(CAST(round(catch_kg * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM clean GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY district, month
        |      ORDER BY cents DESC, taxon0) AS rn
        |  FROM contrib),
        |lumped AS (
        |  SELECT district, month,
        |    CASE WHEN rn <= 3 THEN taxon0 ELSE 'Other' END AS taxon,
        |    CAST(sum(cents) AS BIGINT) AS cents
        |  FROM ranked GROUP BY 1, 2, 3),
        |tot AS (SELECT district, month, CAST(sum(cents) AS BIGINT) AS tc
        |        FROM lumped GROUP BY 1, 2),
        |comp AS (
        |  SELECT l.district, l.month, l.taxon, l.cents,
        |    CAST(row_number() OVER (PARTITION BY l.district, l.month
        |      ORDER BY l.cents DESC, l.taxon) AS BIGINT) AS rnk,
        |    CAST(round(CAST(l.cents AS DOUBLE) * 100000.0
        |      / CAST(t.tc AS DOUBLE)) AS BIGINT) AS pct_milli
        |  FROM lumped l JOIN tot t USING (district, month)),
        |doc AS (
        |  SELECT district, month,
        |    CAST(to_json(list(struct_pack(taxon := taxon, cents := cents)
        |      ORDER BY taxon)) AS VARCHAR) AS doc
        |  FROM comp GROUP BY 1, 2)
        |SELECT c.district, c.month, c.rnk, c.taxon, c.cents, c.pct_milli,
        |  d.doc
        |FROM comp c JOIN doc d USING (district, month)
        |ORDER BY 1, 2, 3""".stripMargin)),

    // TAKEDOWN through the complete topology: a tombstone batch of
    // prior submissions retracts through preprocess-state, the gated
    // trip merge (a deleted survey's published 1:1 match un-merges
    // into a trip-only pass-through), and the state-derived export —
    // one cycle, tombstones authoritative over the delta, no raw
    // re-scan. Oracle = the full four-stage reprocess with the
    // tombstoned submissions excluded (full-reprocess-minus-deleted).
    Q("q389_chained_takedown",
      (s, d) => {
        val dir = graft.core.Scratch.dir("q389_takedown")
        val f = topologyFixture(s, d, "1998-06-15", tripCut = None,
          edits = false, tomb = Some(lit(true)), taxon = false)
        f.writeObjects(dir, "tkd", manifest = false)
        f.writeDeltas(dir, "tkd")
        Incremental.topologyCycle(s, dir, Incremental.objectLane(s, dir, Gen2),
            "tkd_sstate", "tkd_tstate", "tkd_merged", "tkd_sraw", "tkd_traw",
            Some("tkd_tomb"), f.lw, TopologyExport.Monthly)
          .orderBy(col("district"), col("month"))
      },
      Some(takedownOracleSql)),

    // The complete topology over MONTH-PARTITIONED state — the 100 TB
    // publish path: each state lives in ONE stable directory partitioned
    // by month, and the cycle publishes via dynamic-partition-overwrite
    // of only the TOUCHED months (untouched month directories are never
    // listed, read, or rewritten — PartitionedStateSpec pins the files
    // byte-identical and certifies the bytes-written drop vs the
    // object-versioned twin). The fixture is a realistic nightly slice:
    // new surveys after the 2001-06 cutoff, resubmission edits confined
    // to [2001-01, cutoff), a trips delta of the 2001 landings plus
    // seeded duplicate second trips — so retraction, the ambiguity
    // gate, and pass-through fuses all fire inside a handful of touched
    // months while the 1995–2000 partitions stand still. Oracle = the
    // same FULL four-stage reprocess as q387's, with the windowed edit.
    Q("q390_partitioned_topology",
      (s, d) => {
        val dir = graft.core.Scratch.dir("q390_ptrips")
        val f = topologyFixture(s, d, "2001-06-01", Some("2001-01-01"),
          edits = true, tomb = None, taxon = false)
        f.writePartitioned(dir, "ptr")
        f.writeDeltas(dir, "ptr")
        Incremental.topologyCycle(s, dir, Incremental.inPlaceLane(s, dir),
            "ptr_sstate", "ptr_tstate", "ptr_merged", "ptr_sraw", "ptr_traw",
            None, f.lw, TopologyExport.Monthly)
          .orderBy(col("district"), col("month"))
      },
      Some(partitionedTripsOracleSql)),

    // The complete topology with the FULL derived export: one delta-only
    // cycle runs retraction (q378's %23 edits), the gated trip merge
    // with both flip directions (the %51 duplicate late trips), AND
    // ships the reference's derived products — top-3+"Other" species
    // composition and the nested JSON doc — alongside the trip-enriched
    // monthly rollup. Survey state keeps TAXON grain; the merge stage
    // rolls touched keys up to submission grain for the 1:1 gate.
    // Oracle = the full four-stage reprocess THROUGH the composition.
    Q("q391_topology_export",
      (s, d) => {
        val dir = graft.core.Scratch.dir("q391_txe")
        val f = topologyFixture(s, d, "1998-06-15", tripCut = None,
          edits = true, tomb = None, taxon = true)
        f.writeObjects(dir, "txe", manifest = false)
        f.writeDeltas(dir, "txe")
        Incremental.topologyCycle(s, dir, Incremental.objectLane(s, dir, Gen2),
            "txe_sstate", "txe_tstate", "txe_merged", "txe_sraw", "txe_traw",
            None, f.lw, TopologyExport.Products(topN = 3))
          .orderBy(col("district"), col("month"), col("rnk"))
      },
      Some(topologyExportOracleSql(EditedBinNSql, contribWhere = "",
        includeDupTrips = true))),

    // Takedown through the topology WITH the derived export: tombstoned
    // prior submissions leave the taxon state, the merge (their 1:1
    // matches un-merge), the monthly rollup, the composition, and the
    // JSON doc — the full forget path for every product the reference
    // publishes. Oracle = full-reprocess-minus-deleted through the
    // composition.
    Q("q392_topology_export_takedown",
      (s, d) => {
        val dir = graft.core.Scratch.dir("q392_txetkd")
        val f = topologyFixture(s, d, "1998-06-15", tripCut = None,
          edits = false, tomb = Some(lit(true)), taxon = true)
        f.writeObjects(dir, "txd", manifest = false)
        f.writeDeltas(dir, "txd")
        Incremental.topologyCycle(s, dir, Incremental.objectLane(s, dir, Gen2),
            "txd_sstate", "txd_tstate", "txd_merged", "txd_sraw", "txd_traw",
            Some("txd_tomb"), f.lw, TopologyExport.Products(topN = 3))
          .orderBy(col("district"), col("month"), col("rnk"))
      },
      Some(topologyExportOracleSql(RawBinNSql,
        contribWhere = "  WHERE NOT (submission_id % 31 = 0" +
          " AND landing_date < DATE '1998-06-15')\n",
        includeDupTrips = false))),

    // THE FULL COMPOSITION: the taxon-grain topology with derived
    // export AND takedown, published over month-partitioned state with
    // dynamic-partition-overwrite — every lane this round built, in one
    // cycle: a 2001 nightly slice (new surveys, windowed resubmission
    // edits, 2001 trips + seeded duplicates) plus a takedown batch of
    // (submission_id, month) rows targeting [2000-06, cutoff) — the
    // tombstone months are the only pre-2001 partitions the cycle may
    // touch. Oracle = the full four-stage reprocess through the
    // composition, minus the deleted, with the windowed edit.
    Q("q394_partitioned_export_takedown",
      (s, d) => {
        val dir = graft.core.Scratch.dir("q394_pxt")
        val f = topologyFixture(s, d, "2001-06-01", Some("2001-01-01"),
          edits = true, tomb = Some(col("day") >= to_date(lit("2000-06-01"))),
          taxon = true)
        f.writePartitioned(dir, "pxt")
        f.writeDeltas(dir, "pxt")
        Incremental.topologyCycle(s, dir, Incremental.inPlaceLane(s, dir),
            "pxt_sstate", "pxt_tstate", "pxt_merged", "pxt_sraw", "pxt_traw",
            Some("pxt_tomb"), f.lw, TopologyExport.Products(topN = 3))
          .orderBy(col("district"), col("month"), col("rnk"))
      },
      Some(topologyExportOracleSql(WindowedEditedBinNSql,
        contribWhere = "  WHERE NOT (submission_id % 31 = 0" +
          " AND landing_date >= DATE '2000-06-01'" +
          " AND landing_date < DATE '2001-06-01')\n",
        includeDupTrips = true,
        dupTripsAnd = " AND CAST(o_orderdate AS DATE) >= DATE '2001-01-01'"))),

    // The partitioned topology over the GENERATION-PINNED snapshot lane
    // — q390's semantics with the atomicity the in-place lane trades
    // away: touched months write into NEW __gen subdirectories (prior
    // generations never modified), and ONE manifest pins (root, month)
    // -> generation for all three roots at a single atomic commit, so a
    // reader can never see a mixed trio and a crashed publish's
    // half-written generations stay invisible (SnapshotLaneSpec
    // simulates the crash; superseded generations GC under keep-last-N
    // retention, which also gives the lane time travel). Oracle = the
    // same full four-stage reprocess as q390's.
    Q("q403_snapshot_topology",
      (s, d) => {
        val dir = graft.core.Scratch.dir("q403_snap")
        val f = topologyFixture(s, d, "2001-06-01", Some("2001-01-01"),
          edits = true, tomb = None, taxon = false)
        Versioned.commitManifest(dir, "snp_root", Gen1,
          f.writeSnapshots(dir, "snp", surveyFiles = 1)._2)
        f.writeDeltas(dir, "snp")
        Incremental.topologyCycle(s, dir,
            Incremental.snapshotLane(s, dir, "snp_root", Gen2),
            "snp_sstate", "snp_tstate", "snp_merged", "snp_sraw", "snp_traw",
            None, f.lw, TopologyExport.Monthly)
          .orderBy(col("district"), col("month"))
      },
      Some(partitionedTripsOracleSql)),

    // q394 with an O(TOUCHED) EXPORT — the last O(|state|) stage in the
    // nightly topology removed: the monthly rollup and the composition
    // + JSON doc become month-partitioned state themselves, and the
    // cycle re-derives ONLY the touched months (partition-pruned reads
    // of the freshly published merge / taxon state) and dynamic-
    // overwrites those — per-month independence of rank/share/doc is
    // exact, so untouched months' products cannot change.
    // TouchedExportSpec certifies the input-bytes drop and byte-
    // identical untouched export partitions; oracle = the same full
    // four-stage reprocess through the composition as q394's.
    Q("q399_touched_export",
      (s, d) => {
        val dir = graft.core.Scratch.dir("q399_tex")
        val f = topologyFixture(s, d, "2001-06-01", Some("2001-01-01"),
          edits = true, tomb = Some(col("day") >= to_date(lit("2000-06-01"))),
          taxon = true)
        // persisted: the prior merge and the prior rollup both read it
        val mPrior = f.mPrior
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        f.writePartitioned(dir, "tex")
        // prior export roots: the products the O(touched) cycle merges
        // its touched months into
        Versioned.writePartitionedFull(Incremental.monthlyExport(mPrior),
          dir, "tex_rollup", Seq("month"))
        Versioned.writePartitionedFull(
          Incremental.derivedExportProducts(f.sPrior, topN = 3),
          dir, "tex_comp", Seq("month"))
        f.writeDeltas(dir, "tex")
        val out = Incremental.topologyCycle(s, dir,
            Incremental.inPlaceLane(s, dir),
            "tex_sstate", "tex_tstate", "tex_merged", "tex_sraw", "tex_traw",
            Some("tex_tomb"), f.lw,
            TopologyExport.TouchedProducts(topN = 3, "tex_rollup", "tex_comp"))
          .orderBy(col("district"), col("month"), col("rnk"))
        mPrior.unpersist(blocking = false)
        out
      },
      Some(topologyExportOracleSql(WindowedEditedBinNSql,
        contribWhere = "  WHERE NOT (submission_id % 31 = 0" +
          " AND landing_date >= DATE '2000-06-01'" +
          " AND landing_date < DATE '2001-06-01')\n",
        includeDupTrips = true,
        dupTripsAnd = " AND CAST(o_orderdate AS DATE) >= DATE '2001-01-01'"))),

    // Tombstone DELETION for the BM25 inverted index — the third index
    // state with a takedown lane (after LSH signatures q385 and IVFPQ
    // postings q386): the purged postings publish as the next version
    // and serving re-derives df/cf/avgdl/N from the PURGED reload, so a
    // deleted doc can never score AND the collection statistics forget
    // it (a query-time exclusion filter would keep its terms diluting
    // idf and shifting length normalization). Oracle = the full index
    // rebuild over surviving docs, same hottest-terms panel and BM25
    // micro-rounding as q350.
    Q("q393_bm25_delete",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q393_bm25del")
        val docs = Tables.documents(s, d)
        Versioned.write(
          docs.select($"doc_id".as("id"),
              explode(graft.ext.TextAnalysis.tokens($"text")).as("tok"))
            .groupBy($"id", $"tok").agg(count(lit(1)).as("tf")),
          dir, "bmdel_post", "00000001_aaa")
        Versioned.write(
          docs.filter($"doc_id" % 13 === 0).select($"doc_id".as("id")),
          dir, "bmdel_tomb", "00000002_bbb")
        graft.pipeline.Incremental.bm25DeleteCycle(s, dir, "bmdel_post",
            "bmdel_tomb", qTerms = 3, k = 10, newTag = "00000002_bbb")
          .orderBy($"rnk")
      },
      Some(bm25ServeOracleSql("WHERE doc_id % 13 <> 0"))),

    // BM25 postings over a BUCKET-PARTITIONED root — the 100 TB write
    // path for the inverted index (the object-versioned q350 twin
    // publishes prior ∪ delta whole per cycle). Buckets are monotone
    // DOC-ID ranges, not token ranges, deliberately: a nightly batch's
    // token set spans the vocabulary (every common token appears in
    // every batch), so token partitions would ALL be rewritten per
    // append, while doc-range buckets confine an append to the tail
    // bucket(s) and a re-ingest to its named ids' buckets. Serving
    // reads the full index either way — df/cf/avgdl/N are global. The
    // delta mixes NEW docs (every 17th) with RE-INGESTS (every 31st,
    // unchanged text) whose stale postings are replaced, never
    // duplicated; oracle = the full index rebuild over all docs.
    Q("q397_bm25_partitioned_index",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q397_pbm25")
        val docs = Tables.documents(s, d)
        val bw = 64L
        Versioned.writePartitionedFull(
          docs.filter($"doc_id" % 17 =!= 0)
            .select($"doc_id".as("id"),
              explode(graft.ext.TextAnalysis.tokens($"text")).as("tok"))
            .groupBy($"id", $"tok").agg(count(lit(1)).as("tf"))
            .withColumn("bucket",
              graft.pipeline.Incremental.idBucket($"id", bw)),
          dir, "pbm_post", Seq("bucket"))
        Versioned.write(
          docs.filter($"doc_id" % 17 === 0 || $"doc_id" % 31 === 0),
          dir, "pbm_raw", "00000002_bbb")
        graft.pipeline.Incremental.bm25PartitionedCycle(s, dir, "pbm_post",
            "pbm_raw", "doc_id", "text", qTerms = 3, k = 10,
            bucketWidth = bw)
          .orderBy($"rnk")
      },
      Some(bm25ServeOracleSql(""))),

    // Tombstone deletion over the bucket-partitioned postings — q393's
    // 100 TB twin: a tombstoned doc's posting rows all live in its own
    // id-range bucket, so the purge reads and rewrites only the
    // tombstones' buckets, and serving re-derives the collection
    // statistics from the purged reload (the genuine-forget contract).
    // Oracle = the full rebuild over surviving docs (q393's).
    Q("q398_bm25_partitioned_delete",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q398_pbm25del")
        val docs = Tables.documents(s, d)
        val bw = 64L
        Versioned.writePartitionedFull(
          docs.select($"doc_id".as("id"),
              explode(graft.ext.TextAnalysis.tokens($"text")).as("tok"))
            .groupBy($"id", $"tok").agg(count(lit(1)).as("tf"))
            .withColumn("bucket",
              graft.pipeline.Incremental.idBucket($"id", bw)),
          dir, "pbmd_post", Seq("bucket"))
        Versioned.write(
          docs.filter($"doc_id" % 13 === 0).select($"doc_id".as("id")),
          dir, "pbmd_tomb", "00000002_bbb")
        graft.pipeline.Incremental.bm25DeletePartitionedCycle(s, dir,
            "pbmd_post", "pbmd_tomb", qTerms = 3, k = 10, bucketWidth = bw)
          .orderBy($"rnk")
      },
      Some(bm25ServeOracleSql("WHERE doc_id % 13 <> 0"))),

    // File-level ZONE MAPS (data skipping): partition pruning removes
    // whole months, but a selective predicate on a NON-partition column
    // still schedules every file of the surviving months. The sidecar
    // (one row per (partition, file): n_rows/n_nulls/min/max of the
    // stat column) prunes files at PLAN time on the driver, the way a
    // table format's manifest statistics do — the zone-clustered
    // layout (range-partition by (month, cents)) is what makes the
    // pruning bite. Skipping is conservative (residual predicate
    // re-applied), so the result is row-for-row the full scan + filter
    // — FileStatsSpec pins the scan's numFiles to the candidate count.
    Q("q404_zonemap_skipping",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q404_zmap")
        val li = Tables.lineitem(s, d).select(
          date_format($"l_shipdate", "yyyy-MM").as("smonth"),
          round($"l_extendedprice" * 100, 0).cast("long").as("cents"),
          $"l_orderkey", $"l_linenumber")
        graft.io.FileStats.writeZoneClustered(li, dir, "zm_li",
          "smonth", "cents", tasks = 64)
        graft.io.FileStats.buildSidecar(s, dir, "zm_li", "smonth", "cents")
        graft.io.FileStats.readSkipping(s, dir, "zm_li", "smonth",
            "cents", Some(2000000L), Some(2500000L))
          .groupBy($"smonth")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
          .orderBy($"smonth")
      },
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS smonth,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS cents_sum
             |FROM lineitem
             |WHERE CAST(round(l_extendedprice*100, 0) AS BIGINT)
             |  BETWEEN 2000000 AND 2500000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Metadata-only aggregates off the zone-map sidecar: per-partition
    // count(*), null count and min/max answered WITHOUT listing,
    // opening, or scheduling a single data file (FileStatsSpec asserts
    // the executed plan scans only the sidecar root) — the manifest
    // fast path of a table format. Exact because the sidecar is
    // maintained by the same protocol that publishes the data; null
    // accounting rides n_nulls and min/max's own null semantics.
    Q("q405_stats_only_agg",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q405_zmeta")
        val o = Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("omonth"),
          when($"o_orderkey" % 101 === 0, lit(null).cast("long"))
            .otherwise(round($"o_totalprice" * 100, 0).cast("long"))
            .as("cents"))
        Versioned.writePartitionedFull(o, dir, "zm_ord", Seq("omonth"),
          filesPerPartition = 2)
        graft.io.FileStats.buildSidecar(s, dir, "zm_ord", "omonth",
          "cents")
        graft.io.FileStats.statsOnlyAgg(s, dir, "zm_ord")
          .orderBy($"part")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS part,
             |  count(*) AS n_rows,
             |  count(*) - count(v) AS n_nulls,
             |  min(v) AS min_v, max(v) AS max_v
             |FROM (SELECT o_orderdate,
             |    CASE WHEN o_orderkey % 101 = 0 THEN NULL
             |         ELSE CAST(round(o_totalprice*100, 0) AS BIGINT)
             |    END AS v
             |  FROM orders)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Zone maps MAINTAINED through an incremental publish: the state
    // root starts at months < cutoff; the cycle dynamic-overwrites the
    // delta's months (straddling months rewritten whole: prior ∪
    // delta) and re-derives the sidecar for ONLY those months via the
    // same overwriteTouchedPartitions protocol (O(touched), replay-
    // idempotent, emptied months erased — FileStatsSpec pins untouched
    // sidecar partitions byte-identical). The skipping range read over
    // the final root must equal a plain filter over ALL of lineitem —
    // stale zone maps would silently drop the delta's files here.
    Q("q406_zonemap_incremental",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q406_zminc")
        val li = Tables.lineitem(s, d).select(
          date_format($"l_shipdate", "yyyy-MM").as("smonth"),
          round($"l_extendedprice" * 100, 0).cast("long").as("cents"),
          $"l_orderkey", $"l_linenumber")
        // the delta straddles 1997-01: that month's prior rows must be
        // carried through the touched-month rewrite (prior ∪ delta)
        val straddle = "1997-01"
        val isDelta = $"smonth" > straddle ||
          ($"smonth" === straddle && $"l_orderkey" % 5 === 0)
        Versioned.writePartitionedFull(li.filter(!isDelta),
          dir, "zm_inc", Seq("smonth"))
        graft.io.FileStats.buildSidecar(s, dir, "zm_inc", "smonth",
          "cents")
        val delta = li.filter(isDelta)
        val touched = delta.select($"smonth").distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        val prior = Versioned.readPartitions(s, dir, "zm_inc", "smonth",
          touched)
        Versioned.overwriteTouchedPartitions(
          prior.unionByName(delta).localCheckpoint(true),
          dir, "zm_inc", "smonth", touched)
        graft.io.FileStats.maintainSidecar(s, dir, "zm_inc", "smonth",
          "cents", touched)
        graft.io.FileStats.readSkipping(s, dir, "zm_inc", "smonth",
            "cents", Some(1000000L), Some(1300000L))
          .groupBy($"smonth")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
          .orderBy($"smonth")
      },
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS smonth,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS cents_sum
             |FROM lineitem
             |WHERE CAST(round(l_extendedprice*100, 0) AS BIGINT)
             |  BETWEEN 1000000 AND 1300000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Snapshot-lane COMPACTION (a table format's OPTIMIZE): a hot
    // month published under a filesPerPartition salt accumulates small
    // files that cost a task launch + footer read each; the compactor
    // rewrites every pinned leaf over the file threshold into a fresh
    // single-file generation and re-pins them in ONE atomic manifest
    // commit — readers are never disturbed (prior generations'
    // files untouched; a crash mid-compaction leaves every reader on
    // the prior pins), rows are preserved exactly, and the superseded
    // fat generations reclaim under GC (CompactionSpec pins all of
    // it). The fixture writes through a child session with AQE
    // partition-coalescing off so the salt genuinely fans out at
    // every SF; the served aggregate after compact + GC is the
    // oracle-checked result.
    Q("q407_snapshot_compaction",
      (s0, d) => {
        val s = s0.newSession()
        s.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
          "false")
        import s.implicits._
        val dir = graft.core.Scratch.dir("q407_cmp")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("cq_root__")).foreach(_.delete()))
        val li = Tables.lineitem(s, d).select(
          date_format($"l_shipdate", "yyyy-MM").as("smonth"),
          round($"l_extendedprice" * 100, 0).cast("long").as("cents"),
          $"l_orderkey", $"l_linenumber")
        val g1 = "00000001_aaa"
        val p1 = Versioned.writeSnapshotFull(li, dir, "cq_li", "smonth",
          g1, filesPerPartition = 16)
        Versioned.commitManifest(dir, "cq_root", g1,
          p1.map(v => Versioned.snapshotPinKey("cq_li", v) -> g1).toMap)
        Versioned.compactSnapshotLeaves(s, dir, "cq_root",
          Seq("cq_li" -> "smonth"), "00000002_bbb", maxFiles = 1)
        Versioned.gcThroughManifest(dir, "cq_root", keepLast = 1)
        Versioned.gcSnapshotGenerations(dir, "cq_root", "cq_li",
          keepLast = 1)
        Versioned.readSnapshotPartitions(s, dir, "cq_root", "cq_li",
            "smonth", None)
          .groupBy($"smonth")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
          .orderBy($"smonth")
      },
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS smonth,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS cents_sum
             |FROM lineitem
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // MANIFEST-PINNED zone maps — the snapshot-lane upgrade of q406:
    // the stats sidecar is a generation-pinned root whose (part → gen)
    // pins ride the SAME atomic manifest commit as the data pins, so
    // stats and data flip together (a reader can never pair new data
    // with old stats — files silently un-prunable — or old data with
    // new stats — files wrongly pruned, the correctness hazard; the
    // crash window is SnapshotZoneSpec-pinned). An incremental publish
    // writes the delta months' data generations, derives their stats
    // from its own just-written pins, and commits once; the skipping
    // range read planned entirely through the manifest must equal a
    // plain filter over ALL of lineitem.
    Q("q408_zonemap_manifest",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q408_zsnap")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("szq_root__")).foreach(_.delete()))
        val zmap = graft.io.FileStats.sidecarPrefix("szq_li")
        def keyed(prefix: String, pins: Map[String, String]) =
          pins.map { case (v, g) =>
            Versioned.snapshotPinKey(prefix, v) -> g }
        val li = Tables.lineitem(s, d).select(
          date_format($"l_shipdate", "yyyy-MM").as("smonth"),
          round($"l_extendedprice" * 100, 0).cast("long").as("cents"),
          $"l_orderkey", $"l_linenumber")
        val straddle = "1997-01"
        val isDelta = $"smonth" > straddle ||
          ($"smonth" === straddle && $"l_orderkey" % 5 === 0)
        val g1 = "00000001_aaa"
        val dP1 = Versioned.writeSnapshotFull(li.filter(!isDelta), dir,
          "szq_li", "smonth", g1)
        val dPins1 = dP1.map(_.toString -> g1).toMap
        val zP1 = graft.io.FileStats.writeSnapshotSidecar(s, dir,
          "szq_li", "smonth", "cents", dPins1, dP1.toSeq, g1)
        Versioned.commitManifest(dir, "szq_root", g1,
          keyed("szq_li", dPins1) ++
            keyed(zmap, zP1.map(_.toString -> g1).toMap))
        // incremental publish: delta months rewritten whole (prior ∪
        // delta — 1997-01 straddles), stats derived at the cycle's own
        // pins, ONE commit flips the pair
        val g2 = "00000002_bbb"
        val delta = li.filter(isDelta)
        val touched = delta.select($"smonth").distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        val merged = Versioned.readSnapshotAt(s, dir, "szq_li", "smonth",
            dPins1, Some(touched))
          .unionByName(delta).localCheckpoint(true)
        val dP2 = Versioned.writeSnapshotPartitions(merged, dir,
          "szq_li", "smonth", g2)
        val dPins2 = dPins1 ++ dP2.map(_.toString -> g2)
        val zP2 = graft.io.FileStats.writeSnapshotSidecar(s, dir,
          "szq_li", "smonth", "cents", dPins2, dP2.toSeq, g2)
        Versioned.commitManifest(dir, "szq_root", g2,
          keyed("szq_li", dPins2) ++
            keyed(zmap, zP1.map(_.toString -> g1).toMap ++
              zP2.map(_.toString -> g2)))
        graft.io.FileStats.readSkippingSnapshot(s, dir, "szq_root",
            "szq_li", "smonth", "cents", Some(1500000L), Some(1800000L))
          .groupBy($"smonth")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
          .orderBy($"smonth")
      },
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS smonth,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS cents_sum
             |FROM lineitem
             |WHERE CAST(round(l_extendedprice*100, 0) AS BIGINT)
             |  BETWEEN 1500000 AND 1800000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Snapshot-lane TIME TRAVEL: keep-last-N retention makes every
    // committed manifest tag a readable consistent snapshot
    // (readSnapshotPartitionsAt) — the audit/debug/rollback read the
    // in-place partitioned lane gave up. A retraction cycle rewrites
    // the touched months (dropping every o_orderkey%3=0 row from
    // months >= 1997-01); the query then joins the CURRENT snapshot
    // against the time-traveled PRIOR one to report exactly what the
    // cycle changed per month — before/after row counts from two
    // different manifest generations of the same root, in one plan.
    // SnapshotLaneSpec pins per-tag reads and GC eviction semantics.
    Q("q409_snapshot_time_travel",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q409_tt")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("ttq_root__")).foreach(_.delete()))
        val o = Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("omonth"),
          $"o_orderkey",
          round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        val g1 = "00000001_aaa"
        val p1 = Versioned.writeSnapshotFull(o, dir, "ttq_ord", "omonth",
          g1)
        val pins1 = p1.map(_.toString -> g1).toMap
        Versioned.commitManifest(dir, "ttq_root", g1, pins1.map {
          case (v, g) => Versioned.snapshotPinKey("ttq_ord", v) -> g })
        val cutoff = "1997-01"
        val touched = o.filter($"omonth" >= cutoff).select($"omonth")
          .distinct().collect().map(_.getString(0)).toSeq.sorted
        val g2 = "00000002_bbb"
        val survivors = Versioned.readSnapshotAt(s, dir, "ttq_ord",
            "omonth", pins1, Some(touched))
          .filter($"o_orderkey" % 3 =!= 0).localCheckpoint(true)
        val p2 = Versioned.writeSnapshotPartitions(survivors, dir,
          "ttq_ord", "omonth", g2)
        Versioned.commitManifest(dir, "ttq_root", g2,
          (pins1 -- touched ++ p2.map(_.toString -> g2)).map {
            case (v, g) => Versioned.snapshotPinKey("ttq_ord", v) -> g })
        val before = Versioned.readSnapshotPartitionsAt(s, dir,
            "ttq_root", g1, "ttq_ord", "omonth", None)
          .groupBy($"omonth").agg(count(lit(1)).as("n_before"),
            sum($"cents").as("cents_before"))
        val after = Versioned.readSnapshotPartitions(s, dir, "ttq_root",
            "ttq_ord", "omonth", None)
          .groupBy($"omonth").agg(count(lit(1)).as("n_after"),
            sum($"cents").as("cents_after"))
        before.join(after, Seq("omonth"))
          .select($"omonth", $"n_before", $"n_after",
            $"cents_before", $"cents_after")
          .orderBy($"omonth")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
             |  count(*) AS n_before,
             |  count(*) FILTER (WHERE NOT (o_orderkey % 3 = 0
             |    AND strftime(o_orderdate, '%Y-%m') >= '1997-01'))
             |    AS n_after,
             |  CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
             |    AS cents_before,
             |  CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT))
             |    FILTER (WHERE NOT (o_orderkey % 3 = 0
             |      AND strftime(o_orderdate, '%Y-%m') >= '1997-01'))
             |    AS BIGINT) AS cents_after
             |FROM orders
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PER-FILE BLOOM sidecar — point-lookup skipping where zone maps
    // are blind: l_orderkey is uncorrelated with the month layout, so
    // every file's [min,max] covers any probe and min/max prunes
    // nothing; the bloom prunes to (nearly) the one file holding the
    // key. One-sided by construction — false positives cost one extra
    // file read, false negatives are impossible — so the equality
    // residual makes the lookup exact (FileStatsSpec pins the
    // zone-blind contrast, numFiles, and O(touched) maintenance).
    // Spark's own runtime-filter BloomFilterAggregate builds the
    // sidecar (registered by name via GraftFunctions); the driver
    // probe round-trips the serialized sketch.
    Q("q410_bloom_point_lookup",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q410_bloom")
        val li = Tables.lineitem(s, d).select(
          date_format($"l_shipdate", "yyyy-MM").as("smonth"),
          $"l_orderkey", $"l_linenumber",
          round($"l_extendedprice" * 100, 0).cast("long").as("cents"))
        Versioned.writePartitionedFull(li, dir, "bl_li", Seq("smonth"))
        graft.io.FileStats.buildBloomSidecar(s, dir, "bl_li", "smonth",
          "l_orderkey", itemsPerFile = 100000L, numBits = 800000L)
        val probe = li.agg(min($"l_orderkey")).first.getLong(0)
        graft.io.FileStats.readBloomSkipping(s, dir, "bl_li", "smonth",
            "l_orderkey", probe)
          .select($"smonth", $"l_linenumber", $"cents")
          .orderBy($"smonth", $"l_linenumber", $"cents")
      },
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS smonth,
             |  l_linenumber,
             |  CAST(round(l_extendedprice*100, 0) AS BIGINT) AS cents
             |FROM lineitem
             |WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
             |ORDER BY 1, 2, 3""".stripMargin)),

    // MULTI-COLUMN zone maps over a Z-ORDERED layout: the sidecar
    // carries (n_nulls, min, max) per stat column (the table-format
    // stats shape) and a conjunctive predicate prunes on every
    // constrained column at once; clustering by the Morton key
    // (Layout.zKey over price-cents × quantity) makes each file a
    // small rectangle of the 2-D value space so BOTH dimensions bite —
    // a 1-D zone-clustered layout can only ever prune one
    // (FileStatsSpec pins conjunction-beats-either-alone and the
    // numFiles metric on a uniform grid).
    Q("q411_zonemap_zorder",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q411_zord")
        val li = Tables.lineitem(s, d).select(
          date_format($"l_shipdate", "yyyy-MM").as("smonth"),
          round($"l_extendedprice" * 100, 0).cast("long").as("cents"),
          $"l_quantity".cast("long").as("qty"))
        val zli = li.withColumn("zk",
          graft.ops.Layout.zKey($"cents", $"qty", 24))
        graft.io.FileStats.writeZoneClustered(zli, dir, "zo_li",
          "smonth", "zk", tasks = 64)
        graft.io.FileStats.buildSidecarMulti(s, dir, "zo_li", "smonth",
          Seq("cents", "qty"))
        graft.io.FileStats.readSkippingMulti(s, dir, "zo_li", "smonth",
            Seq(("cents", Some(2000000L), Some(6000000L)),
              ("qty", Some(10L), Some(20L))))
          .groupBy($"smonth")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
          .orderBy($"smonth")
      },
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS smonth,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS cents_sum
             |FROM lineitem
             |WHERE CAST(round(l_extendedprice*100, 0) AS BIGINT)
             |    BETWEEN 2000000 AND 6000000
             |  AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CONTENT-ADDRESSED lookup over the id-bucketed document lane —
    // the ingest-side dedup serving question: "have we already stored
    // these exact bytes, and under which ids?" The store is bucketed
    // by doc_id (the write-optimized layout of the index lanes), so
    // id zone maps can't help a CONTENT probe; the bloom sidecar keyed
    // on the text column prunes to (nearly) the files holding the
    // fingerprint, and the exact text-equality residual returns every
    // copy (the corpus plants duplicate clusters by design). One-sided
    // bloom error keeps it exact; the probe is the min-id doc's text.
    Q("q412_content_lookup",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q412_calu")
        val docs = Tables.documents(s, d).select($"doc_id",
          graft.pipeline.Incremental.idBucket($"doc_id", 64L)
            .as("bucket"),
          $"text")
        Versioned.writePartitionedFull(docs, dir, "ca_docs",
          Seq("bucket"))
        graft.io.FileStats.buildBloomSidecar(s, dir, "ca_docs",
          "bucket", "text", itemsPerFile = 10000L, numBits = 200000L)
        val probeText = docs.orderBy($"doc_id").select($"text")
          .first.getString(0)
        graft.io.FileStats.readBloomSkipping(s, dir, "ca_docs",
            "bucket", "text", probeText)
          .select($"doc_id").orderBy($"doc_id")
      },
      Some("""SELECT doc_id FROM documents
             |WHERE text = (SELECT text FROM documents
             |  WHERE doc_id = (SELECT min(doc_id) FROM documents))
             |ORDER BY 1""".stripMargin)),

    // SCHEMA EVOLUTION through the snapshot lane (q125's object-lane
    // twin): a later generation publishes its months WITH an added
    // column; merged reads (mergeSchema) present the union schema and
    // null-fill the generations written before the column existed —
    // the additive-evolution contract (renames/drops are a rewrite,
    // not an evolution). Old manifest tags still time-travel to the
    // pre-evolution schema (SnapshotLaneSpec pins both directions).
    Q("q413_snapshot_schema_evolution",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q413_evo")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("evq_root__")).foreach(_.delete()))
        val o = Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("omonth"),
          $"o_orderkey",
          round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        val cutoff = "1997-01"
        val g1 = "00000001_aaa"
        val p1 = Versioned.writeSnapshotFull(o, dir, "evq_ord", "omonth",
          g1)
        val pins1 = p1.map(_.toString -> g1).toMap
        Versioned.commitManifest(dir, "evq_root", g1, pins1.map {
          case (v, g) => Versioned.snapshotPinKey("evq_ord", v) -> g })
        // evolution: months >= cutoff republished with the new column
        val g2 = "00000002_bbb"
        val evolved = Tables.orders(s, d).select(
            date_format($"o_orderdate", "yyyy-MM").as("omonth"),
            $"o_orderkey",
            round($"o_totalprice" * 100, 0).cast("long").as("cents"),
            $"o_orderpriority".as("prio"))
          .filter($"omonth" >= cutoff).localCheckpoint(true)
        val p2 = Versioned.writeSnapshotPartitions(evolved, dir,
          "evq_ord", "omonth", g2)
        Versioned.commitManifest(dir, "evq_root", g2,
          (pins1 ++ p2.map(_.toString -> g2)).map {
            case (v, g) => Versioned.snapshotPinKey("evq_ord", v) -> g })
        Versioned.readSnapshotPartitions(s, dir, "evq_root", "evq_ord",
            "omonth", None, mergeSchema = true)
          .groupBy($"omonth")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"),
            count($"prio").as("n_prio"), min($"prio").as("min_prio"))
          .orderBy($"omonth")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
             |    AS cents_sum,
             |  count(CASE WHEN strftime(o_orderdate, '%Y-%m') >= '1997-01'
             |    THEN o_orderpriority END) AS n_prio,
             |  min(CASE WHEN strftime(o_orderdate, '%Y-%m') >= '1997-01'
             |    THEN o_orderpriority END) AS min_prio
             |FROM orders
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // MERGE-ON-READ deletion vectors: scattered row-level deletes
    // (GDPR erasure across years) append their keys to a tiny DV
    // sidecar — O(deletes) write, ZERO data files touched (the
    // partitioned lane's whole-month rewrite would pay a month per
    // row) — and reads anti-join the vectors. Two delete batches
    // accumulate; re-deleting is a content no-op; a later purge folds
    // the vectors into a rewrite of only the delete-carrying months
    // (DeleteVectorSpec pins byte-identical data files through the
    // deletes, purge equivalence, and sidecar clearing). The oracle
    // is the minus-deleted aggregate.
    Q("q414_merge_on_read_delete",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q414_dv")
        val o = Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("omonth"),
          $"o_orderkey",
          round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        Versioned.writePartitionedFull(o, dir, "dvq_ord", Seq("omonth"))
        Versioned.appendDeleteVectors(s, dir, "dvq_ord", "omonth",
          "o_orderkey",
          o.filter($"o_orderkey" % 7 === 0 && $"omonth" >= "1997-01")
            .select($"omonth", $"o_orderkey").localCheckpoint(true))
        Versioned.appendDeleteVectors(s, dir, "dvq_ord", "omonth",
          "o_orderkey",
          o.filter($"o_orderkey" % 11 === 0 && $"omonth" >= "1995-01")
            .select($"omonth", $"o_orderkey").localCheckpoint(true))
        Versioned.readMergeOnRead(s, dir, "dvq_ord", "omonth",
            "o_orderkey")
          .groupBy($"omonth")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
          .orderBy($"omonth")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
             |    AS cents_sum
             |FROM orders
             |WHERE NOT (o_orderkey % 7 = 0
             |    AND strftime(o_orderdate, '%Y-%m') >= '1997-01')
             |  AND NOT (o_orderkey % 11 = 0
             |    AND strftime(o_orderdate, '%Y-%m') >= '1995-01')
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // COMPACTION × SKIPPING (q407 composed with q408): compaction must
    // re-derive the manifest-pinned zone sidecar for every compacted
    // leaf and flip it in the SAME atomic commit — a stranded sidecar
    // names the superseded generation's files, which is row-correct
    // only until GC reclaims them, then a read-path crash (the round-13
    // latent hazard). The gate sequence is exactly the failure mode:
    // fat publish → compact (with the sidecar spec) → manifest + data
    // + SIDECAR generation GC → skipping range read; before the fix
    // this threw FILE_NOT_EXIST. Re-pinned stats must also still
    // prune-and-serve exactly (SnapshotZoneSpec carries the plan pins;
    // the oracle carries row truth).
    Q("q415_compaction_skipping",
      (s0, d) => {
        val s = s0.newSession()
        s.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
          "false")
        import s.implicits._
        val dir = graft.core.Scratch.dir("q415_cskip")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("ck_root__")).foreach(_.delete()))
        val zmap = graft.io.FileStats.sidecarPrefix("ck_li")
        val li = Tables.lineitem(s, d).select(
          date_format($"l_shipdate", "yyyy-MM").as("smonth"),
          round($"l_extendedprice" * 100, 0).cast("long").as("cents"),
          $"l_orderkey", $"l_linenumber")
        val g1 = "00000001_aaa"
        val p1 = Versioned.writeSnapshotFull(li, dir, "ck_li", "smonth",
          g1, filesPerPartition = 16)
        val pins1 = p1.map(_.toString -> g1).toMap
        val z1 = graft.io.FileStats.writeSnapshotSidecar(s, dir, "ck_li",
          "smonth", "cents", pins1, p1.toSeq, g1)
        Versioned.commitManifest(dir, "ck_root", g1,
          p1.map(v => Versioned.snapshotPinKey("ck_li", v) -> g1).toMap ++
            z1.map(v => Versioned.snapshotPinKey(zmap, v) -> g1))
        Versioned.compactSnapshotLeaves(s, dir, "ck_root",
          Seq("ck_li" -> "smonth"), "00000002_bbb", maxFiles = 1,
          zoneSidecars = Map("ck_li" -> "cents"))
        Versioned.gcThroughManifest(dir, "ck_root", keepLast = 1)
        Versioned.gcSnapshotGenerations(dir, "ck_root", "ck_li", 1)
        Versioned.gcSnapshotGenerations(dir, "ck_root", zmap, 1)
        graft.io.FileStats.readSkippingSnapshot(s, dir, "ck_root",
            "ck_li", "smonth", "cents", Some(1000000L), Some(1400000L))
          .groupBy($"smonth")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
          .orderBy($"smonth")
      },
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS smonth,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS cents_sum
             |FROM lineitem
             |WHERE CAST(round(l_extendedprice*100, 0) AS BIGINT)
             |  BETWEEN 1000000 AND 1400000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // DELETION VECTORS × BLOOM SKIPPING: a point lookup planned through
    // the bloom sidecar on a root with PENDING deletes must return the
    // minus-deleted holders, not resurrect them (the round-13 gap: the
    // skipping reads and the DV lane were disjoint — a caller
    // composing them got deleted rows back; the bare readBloomSkipping
    // now REFUSES such roots and this composition is the sanctioned
    // path). Two scattered erasure batches accumulate; the probes are
    // one provably-erased key (bloom still names its file — one-sided
    // error — and the anti-join erases the row) and one provably-live
    // key.
    Q("q416_dv_point_lookup",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q416_dvp")
        val o = Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("omonth"),
          $"o_orderkey",
          round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        Versioned.writePartitionedFull(o, dir, "dvp_ord", Seq("omonth"))
        graft.io.FileStats.buildBloomSidecar(s, dir, "dvp_ord", "omonth",
          "o_orderkey", itemsPerFile = 100000L, numBits = 800000L)
        Versioned.appendDeleteVectors(s, dir, "dvp_ord", "omonth",
          "o_orderkey",
          o.filter($"o_orderkey" % 7 === 0 && $"omonth" >= "1997-01")
            .select($"omonth", $"o_orderkey").localCheckpoint(true))
        Versioned.appendDeleteVectors(s, dir, "dvp_ord", "omonth",
          "o_orderkey",
          o.filter($"o_orderkey" % 11 === 0)
            .select($"omonth", $"o_orderkey").localCheckpoint(true))
        val dead = o.filter($"o_orderkey" % 7 === 0 &&
            $"omonth" >= "1997-01")
          .agg(min($"o_orderkey")).first.getLong(0)
        val alive = o.filter($"o_orderkey" % 7 =!= 0 &&
            $"o_orderkey" % 11 =!= 0)
          .agg(min($"o_orderkey")).first.getLong(0)
        graft.io.FileStats.readBloomSkippingMergeOnRead(s, dir,
            "dvp_ord", "omonth", "o_orderkey", dead, "o_orderkey")
          .unionByName(graft.io.FileStats.readBloomSkippingMergeOnRead(
            s, dir, "dvp_ord", "omonth", "o_orderkey", alive,
            "o_orderkey"))
          .select($"omonth", $"o_orderkey", $"cents")
          .orderBy($"omonth", $"o_orderkey")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
             |  o_orderkey,
             |  CAST(round(o_totalprice*100, 0) AS BIGINT) AS cents
             |FROM orders
             |WHERE (o_orderkey = (SELECT min(o_orderkey) FROM orders
             |        WHERE o_orderkey % 7 = 0
             |          AND strftime(o_orderdate, '%Y-%m') >= '1997-01')
             |    OR o_orderkey = (SELECT min(o_orderkey) FROM orders
             |        WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0))
             |  AND NOT (o_orderkey % 7 = 0
             |    AND strftime(o_orderdate, '%Y-%m') >= '1997-01')
             |  AND o_orderkey % 11 <> 0
             |ORDER BY 1, 2""".stripMargin)),

    // ONE LAKEHOUSE READ FACADE: the stack's six reader APIs resolve
    // through LakeTable.readTable in the only sound order — manifest
    // (as-of or latest) → partition pruning → zone/bloom skipping →
    // residuals → DV anti-join → mergeSchema. The gate crosses the
    // hazards the round-13 verdict called miscompositions-in-waiting:
    // a retraction cycle re-pins months (latest ≠ history), the SAME
    // range query runs at the newest manifest AND time-traveled to g1
    // (each planned through that manifest's own pinned sidecar
    // generation), and a scattered erasure lands AFTER both commits —
    // deletes reach history too (erasure semantics), with the DV key
    // auto-detected from the sidecar so the caller cannot forget the
    // anti-join.
    Q("q417_lake_read_facade",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q417_facade")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("fc_root__")).foreach(_.delete()))
        val zmap = graft.io.FileStats.sidecarPrefix("fc_ord")
        def keyed(prefix: String, pins: Map[String, String]) =
          pins.map { case (v, g) =>
            Versioned.snapshotPinKey(prefix, v) -> g }
        val o = Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("omonth"),
          $"o_orderkey",
          round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        val g1 = "00000001_aaa"
        val p1 = Versioned.writeSnapshotFull(o, dir, "fc_ord", "omonth",
          g1)
        val pins1 = p1.map(_.toString -> g1).toMap
        val z1 = graft.io.FileStats.writeSnapshotSidecar(s, dir,
          "fc_ord", "omonth", "cents", pins1, p1.toSeq, g1)
        Versioned.commitManifest(dir, "fc_root", g1,
          keyed("fc_ord", pins1) ++
            keyed(zmap, z1.map(_.toString -> g1).toMap))
        // retraction cycle: months >= 1997-01 drop every %3 key; the
        // touched months' data AND stats re-pin in one commit
        val cutoff = "1997-01"
        val touched = o.filter($"omonth" >= cutoff).select($"omonth")
          .distinct().collect().map(_.getString(0)).toSeq.sorted
        val g2 = "00000002_bbb"
        val survivors = Versioned.readSnapshotAt(s, dir, "fc_ord",
            "omonth", pins1, Some(touched))
          .filter($"o_orderkey" % 3 =!= 0).localCheckpoint(true)
        val p2 = Versioned.writeSnapshotPartitions(survivors, dir,
          "fc_ord", "omonth", g2)
        val pins2 = pins1 -- touched ++ p2.map(_.toString -> g2)
        val z2 = graft.io.FileStats.writeSnapshotSidecar(s, dir,
          "fc_ord", "omonth", "cents", pins2, touched, g2)
        Versioned.commitManifest(dir, "fc_root", g2,
          keyed("fc_ord", pins2) ++
            keyed(zmap, z1.map(_.toString -> g1).toMap --
              touched ++ z2.map(_.toString -> g2)))
        // erasure AFTER both commits — must reach history too
        Versioned.appendDeleteVectors(s, dir, "fc_ord", "omonth",
          "o_orderkey",
          o.filter($"o_orderkey" % 5 === 0)
            .select($"omonth", $"o_orderkey").localCheckpoint(true))
        val (lo, hi) = (Some(10000000L: Any), Some(20000000L: Any))
        def agg(df: org.apache.spark.sql.DataFrame, lane: String) =
          df.groupBy($"omonth")
            .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
            .withColumn("lane", lit(lane))
        agg(graft.io.LakeTable.readTable(s, dir, "fc_ord", "omonth",
            manifestPrefix = Some("fc_root"),
            ranges = Seq(("cents", lo, hi))), "latest")
          .unionByName(agg(graft.io.LakeTable.readTable(s, dir,
            "fc_ord", "omonth", manifestPrefix = Some("fc_root"),
            asOfTag = Some(g1), ranges = Seq(("cents", lo, hi))),
            "asof"))
          .select($"lane", $"omonth", $"n", $"cents_sum")
          .orderBy($"lane", $"omonth")
      },
      Some("""WITH o AS (
             |  SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
             |    o_orderkey,
             |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS cents
             |  FROM orders)
             |SELECT 'latest' AS lane, omonth, count(*) AS n,
             |  CAST(sum(cents) AS BIGINT) AS cents_sum
             |FROM o
             |WHERE cents BETWEEN 10000000 AND 20000000
             |  AND NOT (o_orderkey % 3 = 0 AND omonth >= '1997-01')
             |  AND o_orderkey % 5 <> 0
             |GROUP BY omonth
             |UNION ALL
             |SELECT 'asof' AS lane, omonth, count(*) AS n,
             |  CAST(sum(cents) AS BIGINT) AS cents_sum
             |FROM o
             |WHERE cents BETWEEN 10000000 AND 20000000
             |  AND o_orderkey % 5 <> 0
             |GROUP BY omonth
             |ORDER BY 1, 2""".stripMargin)),

    // STREAMING LAKE SINK × SIDECARS: three chronological file-source
    // micro-batches publish through StreamLakeSink with the zone
    // sidecar riding each epoch's manifest commit (round 13 shipped
    // the sink WITHOUT sidecar maintenance — after the first streamed
    // epoch any sidecar on the root was stale and the skipping path
    // silently lost its pruning); the post-stream range read planned
    // ENTIRELY through the manifest-pinned stats must equal the batch
    // oracle over all of orders.
    Q("q418_stream_lake_sidecar",
      (s, d) => {
        import s.implicits._
        val root = graft.core.Scratch.dir("q418_slake")
        Option(new java.io.File(root).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("slq_root__")).foreach(_.delete()))
        val in = s"$root/in"
        val o = Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("omonth"),
          $"o_orderkey",
          round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        // orders span 1995-01..2001-08 in the synthetic testdata
        val slices = Seq[org.apache.spark.sql.Column](
          $"omonth" < "1997-01",
          $"omonth" >= "1997-01" && $"omonth" < "1999-01",
          $"omonth" >= "1999-01")
        o.filter(slices.head).coalesce(1).write.mode("overwrite")
          .parquet(in)
        val stream = s.readStream
          .schema("omonth STRING, o_orderkey BIGINT, cents BIGINT")
          .parquet(in)
        val q = graft.streaming.StreamLakeSink.run(stream, root,
          "slq_root", "slq_ord", "omonth", "o_orderkey",
          zoneStat = Some("cents"))
        try {
          q.processAllAvailable()
          slices.tail.foreach { cond =>
            o.filter(cond).coalesce(1).write.mode("append").parquet(in)
            q.processAllAvailable()
          }
        } finally q.stop()
        graft.io.FileStats.readSkippingSnapshot(s, root, "slq_root",
            "slq_ord", "omonth", "cents", Some(15000000L),
            Some(18000000L))
          .groupBy($"omonth")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
          .orderBy($"omonth")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
             |    AS cents_sum
             |FROM orders
             |WHERE CAST(round(o_totalprice*100, 0) AS BIGINT)
             |  BETWEEN 15000000 AND 18000000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // MANIFEST-PINNED DELETION VECTORS — the transactional twin of
    // q414's in-place (erasure) lane: each delete batch publishes its
    // vectors as a new generation and commits ONE manifest, so deletes
    // are atomic with everything else the manifest pins and a
    // time-traveled read shows the delete STATE AS OF that tag — the
    // audit/rollback isolation q409 gives data, extended to deletes
    // (erasure that must rewrite history stays the in-place lane's
    // job). Two batches accumulate (g2, g3), a purge folds the pinned
    // vectors into a minus-deleted rewrite of only the delete-carrying
    // months and drops the pins (g4); all three lanes read through the
    // ONE facade: latest (post-purge), as-of g2 (batch 1 only), as-of
    // g1 (nothing deleted). SnapshotDvSpec pins zero-data-file
    // deletes, zombie refusal, replay no-op, pin-drop and GC.
    Q("q419_snapshot_delete_vectors",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q419_sdv")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("sdq_root__")).foreach(_.delete()))
        val o = Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("omonth"),
          $"o_orderkey",
          round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        val g1 = "00000001_aaa"
        val p1 = Versioned.writeSnapshotFull(o, dir, "sdq_ord",
          "omonth", g1)
        Versioned.commitManifest(dir, "sdq_root", g1,
          p1.map(v => Versioned.snapshotPinKey("sdq_ord", v) -> g1).toMap)
        Versioned.commitSnapshotDeleteVectors(s, dir, "sdq_root",
          "sdq_ord", "omonth", "o_orderkey",
          o.filter($"o_orderkey" % 7 === 0 && $"omonth" >= "1997-01")
            .select($"omonth", $"o_orderkey").localCheckpoint(true),
          "00000002_bbb")
        Versioned.commitSnapshotDeleteVectors(s, dir, "sdq_root",
          "sdq_ord", "omonth", "o_orderkey",
          o.filter($"o_orderkey" % 11 === 0)
            .select($"omonth", $"o_orderkey").localCheckpoint(true),
          "00000003_ccc")
        Versioned.purgeSnapshotDeleteVectors(s, dir, "sdq_root",
          "sdq_ord", "omonth", "o_orderkey", "00000004_ddd")
        def lane(asOf: Option[String], name: String) =
          graft.io.LakeTable.readTable(s, dir, "sdq_ord", "omonth",
              manifestPrefix = Some("sdq_root"), asOfTag = asOf)
            .groupBy($"omonth")
            .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
            .withColumn("lane", lit(name))
        lane(None, "latest")
          .unionByName(lane(Some("00000002_bbb"), "asof_g2"))
          .unionByName(lane(Some(g1), "asof_g1"))
          .select($"lane", $"omonth", $"n", $"cents_sum")
          .orderBy($"lane", $"omonth")
      },
      Some("""WITH o AS (
             |  SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
             |    o_orderkey,
             |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS cents
             |  FROM orders)
             |SELECT 'latest' AS lane, omonth, count(*) AS n,
             |  CAST(sum(cents) AS BIGINT) AS cents_sum
             |FROM o
             |WHERE NOT (o_orderkey % 7 = 0 AND omonth >= '1997-01')
             |  AND o_orderkey % 11 <> 0
             |GROUP BY omonth
             |UNION ALL
             |SELECT 'asof_g2' AS lane, omonth, count(*) AS n,
             |  CAST(sum(cents) AS BIGINT) AS cents_sum
             |FROM o
             |WHERE NOT (o_orderkey % 7 = 0 AND omonth >= '1997-01')
             |GROUP BY omonth
             |UNION ALL
             |SELECT 'asof_g1' AS lane, omonth, count(*) AS n,
             |  CAST(sum(cents) AS BIGINT) AS cents_sum
             |FROM o
             |GROUP BY omonth
             |ORDER BY 1, 2""".stripMargin)),

    // BATCHED point lookup ("fetch these N rows by key" — the serving
    // shape of a feature store / document fetch): the whole key batch
    // plans in ONE sidecar pass — each file's bloom deserializes once
    // in an executor and the keys short-circuit on first hit, where N
    // single probes would pay N sidecar passes and N driver
    // round-trips. One-sided error + the exact isin residual keeps it
    // row-for-row; batches past the documented cap are refused (that
    // is a broadcast-join workload, not a planning probe).
    Q("q420_batched_point_lookup",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q420_bk")
        val o = Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("omonth"),
          $"o_orderkey",
          round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        Versioned.writePartitionedFull(o, dir, "bk_ord", Seq("omonth"))
        graft.io.FileStats.buildBloomSidecar(s, dir, "bk_ord", "omonth",
          "o_orderkey", itemsPerFile = 100000L, numBits = 800000L)
        val keys = o.orderBy($"o_orderkey").limit(12)
          .select($"o_orderkey").collect().map(_.getLong(0)).toSeq
        graft.io.FileStats.readBloomSkippingKeys(s, dir, "bk_ord",
            "omonth", "o_orderkey", keys)
          .select($"omonth", $"o_orderkey", $"cents")
          .orderBy($"omonth", $"o_orderkey")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
             |  o_orderkey,
             |  CAST(round(o_totalprice*100, 0) AS BIGINT) AS cents
             |FROM orders
             |WHERE o_orderkey IN (SELECT o_orderkey FROM orders
             |  ORDER BY o_orderkey LIMIT 12)
             |ORDER BY 1, 2""".stripMargin)),

    // MULTI-COLUMN zone maps on the SNAPSHOT lane — q411's
    // manifest-pinned twin: the per-column stats sidecar becomes a
    // generation-pinned root whose pins ride the data's atomic commit,
    // the Z-order-clustered snapshot write makes every (month, gen)
    // leaf a small rectangle of the (price, quantity) space, and the
    // conjunctive skipping read plans entirely through the manifest
    // (SnapshotZoneSpec pins conjunction-beats-one-dimension, the
    // numFiles metric, and that the facade routes multi-range
    // predicates through the pinned multi sidecar).
    Q("q421_zonemap_multi_snapshot",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q421_zms")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("zms_root__")).foreach(_.delete()))
        val zmapm = graft.io.FileStats.sidecarMultiPrefix("zms_li")
        val li = Tables.lineitem(s, d).select(
          date_format($"l_shipdate", "yyyy-MM").as("smonth"),
          round($"l_extendedprice" * 100, 0).cast("long").as("cents"),
          $"l_quantity".cast("long").as("qty"))
        val zli = li.withColumn("zk",
          graft.ops.Layout.zKey($"cents", $"qty", 24))
        val g1 = "00000001_aaa"
        val dP = graft.io.FileStats.writeSnapshotZoneClustered(zli, dir,
          "zms_li", "smonth", "zk", g1, tasks = 64)
        val pins = dP.map(_.toString -> g1).toMap
        val zP = graft.io.FileStats.writeSnapshotSidecarMulti(s, dir,
          "zms_li", "smonth", Seq("cents", "qty"), pins, dP.toSeq, g1)
        Versioned.commitManifest(dir, "zms_root", g1,
          dP.map(v => Versioned.snapshotPinKey("zms_li", v) -> g1).toMap ++
            zP.map(v => Versioned.snapshotPinKey(zmapm, v) -> g1))
        graft.io.FileStats.readSkippingMultiSnapshot(s, dir, "zms_root",
            "zms_li", "smonth",
            Seq(("cents", Some(2000000L), Some(6000000L)),
              ("qty", Some(10L), Some(20L))))
          .groupBy($"smonth")
          .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
          .orderBy($"smonth")
      },
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS smonth,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS cents_sum
             |FROM lineitem
             |WHERE CAST(round(l_extendedprice*100, 0) AS BIGINT)
             |    BETWEEN 2000000 AND 6000000
             |  AND CAST(l_quantity AS BIGINT) BETWEEN 10 AND 20
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // WRITE-SIDE FACADE: LakeTable.commitSnapshot publishes a DETAIL
    // root and its monthly ROLLUP root in ONE atomic manifest commit,
    // with the detail root's zone sidecar auto-maintained from the
    // manifest-pinned spec (passed once at init, never again) — the
    // packaged form of the publish composition every cycle otherwise
    // hand-rolls. A correction cycle re-publishes the affected months'
    // detail AND rollup together; the query then reads BOTH roots
    // through the read facade and reports them side by side — the
    // rollup columns and the detail-derived columns can only agree if
    // the two roots flipped atomically, and the hot-range columns ride
    // the maintained sidecar (LakeTableSpec pins replay short-circuit,
    // zombie refusal, and the sidecar-follow at plan level).
    Q("q422_commit_facade",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q422_wf")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("wf_root__")).foreach(_.delete()))
        val o = Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("omonth"),
          $"o_orderkey",
          round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        def rollOf(df: org.apache.spark.sql.DataFrame) =
          df.groupBy($"omonth")
            .agg(count(lit(1)).as("n"), sum($"cents").as("cents_sum"))
        graft.io.LakeTable.commitSnapshot(s, dir, "wf_root",
          "00000001_aaa",
          Seq(graft.io.LakeTable.RootPublish("wf_det", "omonth", o),
            graft.io.LakeTable.RootPublish("wf_roll", "omonth",
              rollOf(o).localCheckpoint(true))),
          zoneSpecs = Map("wf_det" -> "cents"))
        // correction cycle: months >= 1997-01 re-priced +100 cents per
        // row — detail and rollup re-publish TOGETHER, specs from the
        // manifest
        val cutoff = "1997-01"
        val corrected = o.filter($"omonth" >= cutoff)
          .select($"omonth", $"o_orderkey", ($"cents" + 100L).as("cents"))
          .localCheckpoint(true)
        graft.io.LakeTable.commitSnapshot(s, dir, "wf_root",
          "00000002_bbb",
          Seq(graft.io.LakeTable.RootPublish("wf_det", "omonth",
              corrected),
            graft.io.LakeTable.RootPublish("wf_roll", "omonth",
              rollOf(corrected).localCheckpoint(true))))
        val roll = graft.io.LakeTable.readTable(s, dir, "wf_roll",
          "omonth", manifestPrefix = Some("wf_root"))
        val hot = graft.io.LakeTable.readTable(s, dir, "wf_det",
            "omonth", manifestPrefix = Some("wf_root"),
            ranges = Seq(("cents", Some(15000000L), Some(18000000L))))
          .groupBy($"omonth")
          .agg(count(lit(1)).as("n_hot"), sum($"cents").as("cents_hot"))
        roll.join(hot, Seq("omonth"), "left")
          .select($"omonth", $"n", $"cents_sum",
            coalesce($"n_hot", lit(0L)).as("n_hot"),
            coalesce($"cents_hot", lit(0L)).as("cents_hot"))
          .orderBy($"omonth")
      },
      Some("""WITH o AS (
             |  SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
             |    CAST(round(o_totalprice*100, 0) AS BIGINT) +
             |      CASE WHEN strftime(o_orderdate, '%Y-%m') >= '1997-01'
             |        THEN 100 ELSE 0 END AS cents
             |  FROM orders)
             |SELECT omonth, count(*) AS n,
             |  CAST(sum(cents) AS BIGINT) AS cents_sum,
             |  count(*) FILTER (WHERE cents BETWEEN 15000000 AND 18000000)
             |    AS n_hot,
             |  CAST(coalesce(sum(cents) FILTER (WHERE cents BETWEEN
             |    15000000 AND 18000000), 0) AS BIGINT) AS cents_hot
             |FROM o GROUP BY 1 ORDER BY 1""".stripMargin)),

    // BATCHED FETCH × DELETION VECTORS through the READ FACADE: the
    // "fetch these N rows by key" serving shape (q420) composed with
    // scattered GDPR erasures — one bloom-sidecar pass plans the whole
    // batch, the exact isin residual applies, and the facade's erasure
    // anti-join keeps every erased key erased (before this landed, the
    // batched path REFUSED DV roots and the facade took one key only,
    // so this exact workload had to bypass both). The batch straddles
    // live and erased keys; the oracle is keys-minus-deleted.
    Q("q423_batched_fetch_dv",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q423_bfd")
        val o = Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("omonth"),
          $"o_orderkey",
          round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        Versioned.writePartitionedFull(o, dir, "bfd_ord", Seq("omonth"))
        graft.io.FileStats.buildBloomSidecar(s, dir, "bfd_ord", "omonth",
          "o_orderkey", itemsPerFile = 100000L, numBits = 800000L)
        Versioned.appendDeleteVectors(s, dir, "bfd_ord", "omonth",
          "o_orderkey",
          o.filter($"o_orderkey" % 7 === 0 && $"omonth" >= "1997-01")
            .select($"omonth", $"o_orderkey").localCheckpoint(true))
        Versioned.appendDeleteVectors(s, dir, "bfd_ord", "omonth",
          "o_orderkey",
          o.filter($"o_orderkey" % 11 === 0)
            .select($"omonth", $"o_orderkey").localCheckpoint(true))
        // a key batch that provably straddles live and erased rows
        val keys = o.orderBy($"o_orderkey").limit(40)
          .select($"o_orderkey").collect().map(_.getLong(0)).toSeq
        graft.io.LakeTable.readTable(s, dir, "bfd_ord", "omonth",
            pointKeys = Some(("o_orderkey", keys)))
          .select($"omonth", $"o_orderkey", $"cents")
          .orderBy($"omonth", $"o_orderkey")
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
             |  o_orderkey,
             |  CAST(round(o_totalprice*100, 0) AS BIGINT) AS cents
             |FROM orders
             |WHERE o_orderkey IN (SELECT o_orderkey FROM orders
             |    ORDER BY o_orderkey LIMIT 40)
             |  AND NOT (o_orderkey % 7 = 0
             |    AND strftime(o_orderdate, '%Y-%m') >= '1997-01')
             |  AND NOT (o_orderkey % 11 = 0)
             |ORDER BY 1, 2""".stripMargin)),

    // q403's snapshot topology with a BLOOM-PROBED RETRACTION PATH and
    // the whole cycle through the STAGED write facade
    // (LakeTable.SnapshotStage): the survey state publishes multi-file
    // months (fan-out salt) with a manifest-pinned submission_id bloom
    // sidecar + spec, so the resubmission prior-row lookup reads only
    // the HOLDER files (one batched sidecar pass) instead of every
    // file of the touched months, and the stage maintains the sidecar
    // through each cycle's publish. Same oracle as q403 — the probe is
    // conservative (bloom one-sided error + exact semi-join residual),
    // so the export is bit-identical; SnapshotLaneSpec certifies the
    // retraction bytes drop.
    Q("q424_bloom_retraction_topology",
      (s0, d) => {
        val s = s0.newSession()
        s.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
          "false")
        val dir = graft.core.Scratch.dir("q424_brt")
        val f = topologyFixture(s, d, "2001-06-01", Some("2001-01-01"),
          edits = true, tomb = None, taxon = false)
        // FAT survey months (the posture where the probe matters) with
        // the bloom sidecar + spec pinned at the initial commit
        val (sP, pins) = f.writeSnapshots(dir, "brt", surveyFiles = 8)
        val bP = graft.io.FileStats.writeSnapshotBloomSidecar(s, dir,
          "brt_sstate", "month", "submission_id",
          sP.map(_.toString -> Gen1).toMap, sP.toSeq, Gen1,
          itemsPerFile = 100000L, numBits = 200000L)
        Versioned.commitManifest(dir, "brt_root", Gen1, pins ++
          bP.map(v => Versioned.snapshotPinKey(
            graft.io.FileStats.bloomPrefix("brt_sstate"), v) -> Gen1) +
          graft.io.FileStats.bloomSpecEntry("brt_sstate",
            "submission_id", 100000L, 200000L))
        f.writeDeltas(dir, "brt")
        Incremental.topologyCycle(s, dir,
            Incremental.snapshotLane(s, dir, "brt_root", Gen2),
            "brt_sstate", "brt_tstate", "brt_merged", "brt_sraw", "brt_traw",
            None, f.lw, TopologyExport.Monthly)
          .orderBy(col("district"), col("month"))
      },
      Some(partitionedTripsOracleSql)),

    // CHANGEFEED between manifest tags — incremental consumption (a
    // table format's change data feed): row-level added/removed/changed
    // between the snapshots two committed tags SERVED, computed ONLY
    // over the partitions whose data or DV pins moved between the tags
    // (pin immutability proves everything else byte-identical — a pure
    // metadata decision, zero reads of unmoved months; ChangefeedSpec
    // pins it at numFiles level). Three commits: full publish, a
    // correction+append cycle on the hot months, a pinned delete batch
    // on the cold months — the feed g1→g3 must surface the corrections
    // as `changed`, the appends as `added`, and the pinned deletes as
    // `removed`, and nothing else. Oracle = the same three change sets
    // derived from the raw table.
    Q("q425_changefeed",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q425_cf")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("cf_root__")).foreach(_.delete()))
        val o = Tables.orders(s, d).select(
          date_format($"o_orderdate", "yyyy-MM").as("omonth"),
          $"o_orderkey",
          round($"o_totalprice" * 100, 0).cast("long").as("cents"))
        val g1 = "00000001_aaa"
        graft.io.LakeTable.commitSnapshot(s, dir, "cf_root", g1,
          Seq(graft.io.LakeTable.RootPublish("cf_ord", "omonth", o)))
        // correction cycle: hot months re-priced (+100) AND appended
        // (every %10 key gains a shifted twin) in one commit
        val hot = o.filter($"omonth" >= "1997-01")
        val corrected = hot
          .select($"omonth", $"o_orderkey", ($"cents" + 100L).as("cents"))
          .unionByName(hot.filter($"o_orderkey" % 10 === 0)
            .select($"omonth", ($"o_orderkey" + 30000000L).as("o_orderkey"),
              $"cents"))
          .localCheckpoint(true)
        graft.io.LakeTable.commitSnapshot(s, dir, "cf_root",
          "00000002_bbb",
          Seq(graft.io.LakeTable.RootPublish("cf_ord", "omonth",
            corrected)))
        // pinned delete batch on the cold months
        Versioned.commitSnapshotDeleteVectors(s, dir, "cf_root",
          "cf_ord", "omonth", "o_orderkey",
          o.filter($"o_orderkey" % 13 === 0 && $"omonth" < "1995-01")
            .select($"omonth", $"o_orderkey").localCheckpoint(true),
          "00000003_ccc")
        Versioned.snapshotChangefeed(s, dir, "cf_root", "cf_ord",
            "omonth", Seq("omonth", "o_orderkey"), g1, "00000003_ccc")
          .groupBy($"omonth", $"change")
          .agg(count(lit(1)).as("n"))
          .orderBy($"omonth", $"change")
      },
      Some("""WITH o AS (
             |  SELECT strftime(o_orderdate, '%Y-%m') AS omonth,
             |    o_orderkey,
             |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS cents
             |  FROM orders),
             |feed AS (
             |  SELECT omonth, 'changed' AS change FROM o
             |  WHERE omonth >= '1997-01'
             |  UNION ALL
             |  SELECT omonth, 'added' FROM o
             |  WHERE omonth >= '1997-01' AND o_orderkey % 10 = 0
             |  UNION ALL
             |  SELECT omonth, 'removed' FROM o
             |  WHERE omonth < '1995-01' AND o_orderkey % 13 = 0)
             |SELECT omonth, change, count(*) AS n
             |FROM feed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // METADATA-ONLY aggregates over the MULTI-COLUMN pinned sidecar:
    // per-month row count plus nulls/min/max of EVERY indexed column,
    // answered from the sidecar generations the manifest pins — zero
    // data files listed, opened, or scheduled (the q405 fast path,
    // completed for the per-column stats shape; the column list is
    // read off the sidecar's own schema, no spec needed). The facade
    // entry is LakeTable.statsTableMulti; exactness holds because the
    // sidecar pins flipped with the data pins.
    Q("q426_stats_multi_snapshot",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q426_smm")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("smm_root__")).foreach(_.delete()))
        val zmapm = graft.io.FileStats.sidecarMultiPrefix("smm_li")
        val li = Tables.lineitem(s, d).select(
          date_format($"l_shipdate", "yyyy-MM").as("smonth"),
          round($"l_extendedprice" * 100, 0).cast("long").as("cents"),
          $"l_quantity".cast("long").as("qty"))
        val zli = li.withColumn("zk",
          graft.ops.Layout.zKey($"cents", $"qty", 24))
        val g1 = "00000001_aaa"
        val dP = graft.io.FileStats.writeSnapshotZoneClustered(zli, dir,
          "smm_li", "smonth", "zk", g1, tasks = 64)
        val pins = dP.map(_.toString -> g1).toMap
        val zP = graft.io.FileStats.writeSnapshotSidecarMulti(s, dir,
          "smm_li", "smonth", Seq("cents", "qty"), pins, dP.toSeq, g1)
        Versioned.commitManifest(dir, "smm_root", g1,
          dP.map(v => Versioned.snapshotPinKey("smm_li", v) -> g1).toMap ++
            zP.map(v => Versioned.snapshotPinKey(zmapm, v) -> g1))
        graft.io.LakeTable.statsTableMulti(s, dir, "smm_li",
            manifestPrefix = Some("smm_root"))
          .orderBy($"part")
      },
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS part,
             |  count(*) AS n_rows,
             |  count(*) - count(CAST(round(l_extendedprice*100, 0) AS BIGINT))
             |    AS n_nulls_cents,
             |  min(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS min_cents,
             |  max(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS max_cents,
             |  count(*) - count(CAST(l_quantity AS BIGINT)) AS n_nulls_qty,
             |  min(CAST(l_quantity AS BIGINT)) AS min_qty,
             |  max(CAST(l_quantity AS BIGINT)) AS max_qty
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CHANGEFEED-DRIVEN DEDUP MAINTENANCE — the full lake × LLM
    // composition: the corpus is a generation-pinned lake root
    // (appends through the write facade, a %13 takedown as a pinned
    // delete batch), and the bucket-partitioned LSH signature store
    // FOLLOWS it by consuming the changefeed g1→g3 — added docs
    // re-sign from the target snapshot (churned partitions only),
    // removed docs purge their signature rows, unchanged re-published
    // rows never reach the feed so they cost no signature work, and
    // only the touched id-range buckets rewrite. The reported pairs
    // are the q395 screen (cross-version + intra-batch) for the
    // feed's upserted batch against the surviving corpus; the oracle
    // is the full-corpus replay over survivors. ChangefeedSpec pins
    // that the post-cycle state equals the full rebuild.
    Q("q427_lsh_changefeed",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q427_lcf")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("lcf_root__")).foreach(_.delete()))
        val docs = Tables.documents(s, d)
        val bw = 64L
        val bdocs = docs.withColumn("bucket",
          graft.pipeline.Incremental.idBucket($"doc_id", bw))
        val g1 = "00000001_aaa"
        graft.io.LakeTable.commitSnapshot(s, dir, "lcf_root", g1,
          Seq(graft.io.LakeTable.RootPublish("lcf_docs", "bucket",
            bdocs.filter($"doc_id" % 17 =!= 0).localCheckpoint(true))))
        Versioned.writePartitionedFull(
          graft.ext.Dedup.signatureState(docs.filter($"doc_id" % 17 =!= 0),
              "doc_id", "text", n = 2, bands = 21, rowsPerBand = 3)
            .withColumn("bucket",
              graft.pipeline.Incremental.idBucket($"id", bw)),
          dir, "lcf_state", Seq("bucket"))
        // g2: the %17 appends land through the write facade — touched
        // buckets republish their FULL content (old rows ride along
        // unchanged and never reach the feed)
        val tb = bdocs.filter($"doc_id" % 17 === 0)
          .select($"bucket").distinct()
        graft.io.LakeTable.commitSnapshot(s, dir, "lcf_root",
          "00000002_bbb",
          Seq(graft.io.LakeTable.RootPublish("lcf_docs", "bucket",
            bdocs.join(tb, Seq("bucket"), "left_semi")
              .localCheckpoint(true))))
        // g3: the takedown — %13 docs of the ORIGINAL corpus leave as
        // a pinned delete batch (zero data files touched)
        Versioned.commitSnapshotDeleteVectors(s, dir, "lcf_root",
          "lcf_docs", "bucket", "doc_id",
          bdocs.filter($"doc_id" % 13 === 0 && $"doc_id" % 17 =!= 0)
            .select($"bucket", $"doc_id").localCheckpoint(true),
          "00000003_ccc")
        graft.pipeline.Incremental.lshDedupChangefeedCycle(s, dir,
            "lcf_root", "lcf_docs", "bucket", "doc_id", "text",
            g1, "00000003_ccc", "lcf_state", n = 2, threshold = 0.2,
            bands = 21, rowsPerBand = 3, bucketWidth = bw)
          .select($"batch_id", $"corpus_id",
            graft.core.Exact.r4($"jaccard").as("jaccard"))
          .orderBy($"batch_id", $"corpus_id")
      },
      Some(lshCycleOracleSql("doc_id % 17 = 0",
        corpusWhere = "NOT (doc_id % 13 = 0 AND doc_id % 17 <> 0)"))),

    // CHANGEFEED-DRIVEN BM25 MAINTENANCE — q427's retrieval twin: the
    // same lake fixture (facade appends at g2, a pinned-DV takedown at
    // g3) with the bucket-partitioned postings store following the
    // feed — upserts re-tokenize from the target snapshot, removals
    // purge their posting rows, only touched id-range buckets rewrite,
    // and serving re-derives the GLOBAL collection statistics
    // (df/cf/dl/avgdl/N) from the maintained index so the takedown
    // genuinely leaves the scores. Oracle = the full BM25 rebuild +
    // serve over exactly the survivors.
    Q("q428_bm25_changefeed",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q428_bcf")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("bcf_root__")).foreach(_.delete()))
        val docs = Tables.documents(s, d)
        val bw = 64L
        val bdocs = docs.withColumn("bucket",
          graft.pipeline.Incremental.idBucket($"doc_id", bw))
        val g1 = "00000001_aaa"
        graft.io.LakeTable.commitSnapshot(s, dir, "bcf_root", g1,
          Seq(graft.io.LakeTable.RootPublish("bcf_docs", "bucket",
            bdocs.filter($"doc_id" % 17 =!= 0).localCheckpoint(true))))
        Versioned.writePartitionedFull(
          docs.filter($"doc_id" % 17 =!= 0)
            .select($"doc_id".as("id"),
              explode(graft.ext.TextAnalysis.tokens($"text")).as("tok"))
            .groupBy($"id", $"tok").agg(count(lit(1)).as("tf"))
            .withColumn("bucket",
              graft.pipeline.Incremental.idBucket($"id", bw)),
          dir, "bcf_post", Seq("bucket"))
        val tb = bdocs.filter($"doc_id" % 17 === 0)
          .select($"bucket").distinct()
        graft.io.LakeTable.commitSnapshot(s, dir, "bcf_root",
          "00000002_bbb",
          Seq(graft.io.LakeTable.RootPublish("bcf_docs", "bucket",
            bdocs.join(tb, Seq("bucket"), "left_semi")
              .localCheckpoint(true))))
        Versioned.commitSnapshotDeleteVectors(s, dir, "bcf_root",
          "bcf_docs", "bucket", "doc_id",
          bdocs.filter($"doc_id" % 13 === 0 && $"doc_id" % 17 =!= 0)
            .select($"bucket", $"doc_id").localCheckpoint(true),
          "00000003_ccc")
        graft.pipeline.Incremental.bm25ChangefeedCycle(s, dir,
            "bcf_root", "bcf_docs", "bucket", "doc_id", "text",
            g1, "00000003_ccc", "bcf_post", qTerms = 3, k = 10,
            bucketWidth = bw)
          .orderBy($"rnk")
      },
      Some(bm25ServeOracleSql(
        "WHERE NOT (doc_id % 13 = 0 AND doc_id % 17 <> 0)"))),

    // CONTINUOUS maintenance through the consumer loop — followManifest
    // walks every committed window after the cursor (oldest first) and
    // the BM25 index follows window by window: g1→g2 an append batch,
    // g2→g3 an EDIT batch (republished buckets where only the %19 docs'
    // text changed — the feed surfaces exactly those as `changed`, the
    // ride-along rows never feed, and the cycle purges + re-tokenizes
    // just the edits), g3→g4 a pinned-DV takedown. Each window's
    // maintenance consumes the state the previous window published —
    // the composition a single-window gate (q428) cannot exercise —
    // and the loop returns the caught-up cursor. Oracle = the full
    // BM25 rebuild + serve over exactly the final corpus (survivors,
    // with the %19 edits applied).
    Q("q431_bm25_follow",
      (s, d) => {
        import s.implicits._
        val dir = graft.core.Scratch.dir("q431_bfl")
        Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
          .filter(_.getName.startsWith("bfl_root__")).foreach(_.delete()))
        val docs = Tables.documents(s, d)
        val bw = 64L
        val bucketOf = graft.pipeline.Incremental.idBucket($"doc_id", bw)
        val bdocs = docs.withColumn("bucket", bucketOf)
        val g1 = "00000001_aaa"
        graft.io.LakeTable.commitSnapshot(s, dir, "bfl_root", g1,
          Seq(graft.io.LakeTable.RootPublish("bfl_docs", "bucket",
            bdocs.filter($"doc_id" % 17 =!= 0).localCheckpoint(true))))
        Versioned.writePartitionedFull(
          docs.filter($"doc_id" % 17 =!= 0)
            .select($"doc_id".as("id"),
              explode(graft.ext.TextAnalysis.tokens($"text")).as("tok"))
            .groupBy($"id", $"tok").agg(count(lit(1)).as("tf"))
            .withColumn("bucket",
              graft.pipeline.Incremental.idBucket($"id", bw)),
          dir, "bfl_post", Seq("bucket"))
        // g2: the %17 appends (touched buckets republished whole)
        val tb2 = bdocs.filter($"doc_id" % 17 === 0)
          .select($"bucket").distinct()
        graft.io.LakeTable.commitSnapshot(s, dir, "bfl_root",
          "00000002_bbb",
          Seq(graft.io.LakeTable.RootPublish("bfl_docs", "bucket",
            bdocs.join(tb2, Seq("bucket"), "left_semi")
              .localCheckpoint(true))))
        // g3: the %19 docs' text is EDITED in place — their buckets
        // republish whole, unchanged ride-along rows never feed
        val edited = bdocs.withColumn("text",
          when($"doc_id" % 19 === 0, concat($"text", lit(" melon melon")))
            .otherwise($"text"))
        val tb3 = bdocs.filter($"doc_id" % 19 === 0)
          .select($"bucket").distinct()
        graft.io.LakeTable.commitSnapshot(s, dir, "bfl_root",
          "00000003_ccc",
          Seq(graft.io.LakeTable.RootPublish("bfl_docs", "bucket",
            edited.join(tb3, Seq("bucket"), "left_semi")
              .localCheckpoint(true))))
        // g4: the %13 takedown of ORIGINAL docs as a pinned delete batch
        Versioned.commitSnapshotDeleteVectors(s, dir, "bfl_root",
          "bfl_docs", "bucket", "doc_id",
          bdocs.filter($"doc_id" % 13 === 0 && $"doc_id" % 17 =!= 0)
            .select($"bucket", $"doc_id").localCheckpoint(true),
          "00000004_ddd")
        // the consumer loop: one maintenance cycle per committed window
        var serve: org.apache.spark.sql.DataFrame = null
        val cursor = Versioned.followManifest(dir, "bfl_root", g1) {
          (a, b) =>
            serve = graft.pipeline.Incremental.bm25ChangefeedCycle(s, dir,
              "bfl_root", "bfl_docs", "bucket", "doc_id", "text", a, b,
              "bfl_post", qTerms = 3, k = 10, bucketWidth = bw)
        }
        require(cursor == "00000004_ddd",
          s"consumer did not catch up: cursor '$cursor'")
        serve.orderBy($"rnk")
      },
      Some(bm25ServeOracleSql(
        "WHERE NOT (doc_id % 13 = 0 AND doc_id % 17 <> 0)",
        corpus = """(SELECT doc_id,
                    |    CASE WHEN doc_id % 19 = 0
                    |         THEN text || ' melon melon' ELSE text END
                    |      AS text
                    |  FROM documents)""".stripMargin)))
  )

  /** Full-corpus replay oracle for the incremental LSH dedup cycles
    * (q342 object lane, q395 partitioned lane): the same shingle →
    * polyhash → minhash → band walk as [[graft.ext.Dedup]], with the
    * delta membership predicate plugged in — the cycle must report
    * exactly the full replay's pairs that touch the batch.
    */
  private def lshCycleOracleSql(isBatchSql: String,
                                corpusWhere: String = "TRUE"): String =
    s"""WITH toks AS (
       |  SELECT doc_id, $isBatchSql AS is_batch,
       |    string_split_regex(trim(text), '\\s+') AS l FROM documents
       |  WHERE $corpusWhere),
       |shg AS (
       |  SELECT doc_id, is_batch,
       |    list_distinct(list_filter(
       |      list_transform(l, (x, i) ->
       |        CASE WHEN i <= len(l) - 1 THEN x || ' ' || l[i+1] END),
       |      v -> v IS NOT NULL)) AS sh
       |  FROM toks),
       |base AS (
       |  SELECT doc_id, is_batch, sh,
       |    list_transform(sh, s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, length(s)),
       |        i -> CAST(ascii(substring(s, i, 1)) AS BIGINT))),
       |      (a, b) -> (a*31 + b) % 1000000007)) AS hs
       |  FROM shg),
       |sig AS (
       |  SELECT doc_id, is_batch, sh,
       |    list_transform(generate_series(1, 63), j ->
       |      coalesce(list_min(list_transform(hs, h ->
       |        (h * ((1103515245 * j) % 2038074743)
       |          + ((12345 * j + 7) % 2038074743)) % 2038074743)),
       |      CAST(-1 AS BIGINT))) AS sig
       |  FROM base),
       |bandrows AS (
       |  SELECT doc_id, is_batch, b,
       |    sig[CAST(b*3+1 AS INT) : CAST(b*3+3 AS INT)] AS bucket
       |  FROM sig CROSS JOIN range(0, 21) t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
       |  FROM bandrows a JOIN bandrows b
       |    ON a.b = b.b AND a.bucket = b.bucket
       |  WHERE a.is_batch AND (NOT b.is_batch OR a.doc_id < b.doc_id)),
       |ver AS (
       |  SELECT batch_id, corpus_id,
       |    len(list_intersect(x.sh, y.sh)) * 1.0
       |      / len(list_distinct(list_concat(x.sh, y.sh))) AS jac
       |  FROM cand JOIN shg x ON x.doc_id = batch_id
       |  JOIN shg y ON y.doc_id = corpus_id)
       |SELECT batch_id, corpus_id, round(jac, 4) + 0.0 AS jaccard
       |FROM ver WHERE jac >= 0.2 ORDER BY 1, 2""".stripMargin

  /** Full-rebuild-over-survivors oracle for the dedup deletion lanes
    * (q385 object lane, q396 partitioned lane): simhash-banded pairs +
    * components over the documents that survive the %13 takedown.
    */
  private def dedupDeleteOracleSql: String =
    """WITH RECURSIVE kept AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0),
      |th AS (
      |  SELECT doc_id,
      |    list_transform(string_split_regex(trim(text),'\s+'), s ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(generate_series(1, length(s)), i -> CAST(ascii(substring(s, i, 1)) AS BIGINT))),
      |      (a,b) -> (a*31 + b) % 1000000007)) AS hs
      |  FROM kept),
      |bits AS (
      |  SELECT doc_id, j,
      |    CASE WHEN coalesce(list_sum(list_transform(hs, h ->
      |      CASE WHEN ((h * ((1103515245 * j) % 2038074743) + ((12345 * j + 7) % 2038074743)) % 2038074743) % 2 = 1
      |           THEN 1 ELSE -1 END)), 0) > 0
      |         THEN (CAST(1 AS BIGINT) << CAST(j - 1 AS INT)) ELSE 0 END AS bit
      |  FROM th CROSS JOIN range(1, 64) t(j)),
      |sh AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sh FROM bits GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.sh, b.sh)) <= 6),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS lbl FROM kept
      |  UNION
      |  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |comp AS (SELECT id, min(lbl) AS canonical_id FROM reach GROUP BY id),
      |sized AS (SELECT canonical_id, count(*) AS n_group FROM comp GROUP BY 1)
      |SELECT c.id AS doc_id, c.canonical_id, s.n_group
      |FROM comp c JOIN sized s USING (canonical_id)
      |WHERE s.n_group > 1
      |ORDER BY canonical_id, doc_id""".stripMargin

  /** Index-rebuild BM25 serving oracle shared by the inverted-index
    * takedown/maintenance lanes (q393, q397, q398): postings over the
    * docs selected by `whereSql` (empty = whole corpus), hottest-cf
    * 3-term panel, per-term micro-rounding, top-10.
    */
  private def bm25ServeOracleSql(whereSql: String,
                                 corpus: String = "documents"): String =
    s"""WITH post AS (
       |  SELECT doc_id AS id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id,
       |          unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |        FROM $corpus $whereSql)
       |  GROUP BY 1, 2),
       |st AS (SELECT CAST(count(DISTINCT id) AS BIGINT) AS nd,
       |        CAST(sum(tf) AS BIGINT) AS tot FROM post),
       |dfts AS (SELECT tok, CAST(count(*) AS BIGINT) AS df,
       |        CAST(sum(tf) AS BIGINT) AS cf FROM post GROUP BY 1),
       |qt AS (SELECT tok, df FROM dfts ORDER BY cf DESC, tok LIMIT 3),
       |dls AS (SELECT id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY 1),
       |sc AS (
       |  SELECT p.id, CAST(sum(CAST(round(
       |      ln((CAST(nd AS DOUBLE) - CAST(qt.df AS DOUBLE)
       |          + CAST(0.5 AS DOUBLE))
       |        / (CAST(qt.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
       |        + CAST(1.0 AS DOUBLE))
       |      * (CAST(p.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
       |        / (CAST(p.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
       |          * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
       |            * CAST(dls.dl AS DOUBLE)
       |            / (CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE)))))
       |      * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS BIGINT)
       |    AS score_micro
       |  FROM post p JOIN qt USING (tok) JOIN dls USING (id)
       |  CROSS JOIN st GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, id)
       |    AS BIGINT) AS rnk,
       |  id AS doc_id, score_micro
       |FROM sc QUALIFY rnk <= 10 ORDER BY rnk""".stripMargin

  /** The q375 per-line bin-count derivation, shared with q378's edited
    * variant (a def: `all` initializes before any later vals would).
    */
  private def RawBinNSql: String =
    "(CASE WHEN l_suppkey % 37 = 0 THEN 1500 ELSE l_suppkey % 9 + 1 END)"

  /** The q378/q387 resubmission edit, as the effective-bin SQL the
    * oracles plug into [[chainCleanCtes]]: prior-batch every-23rd
    * submissions re-pull with their individual counts halved (floor 1).
    */
  private def EditedBinNSql: String =
    s"""CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-06-15'
       |      AND o_orderkey % 23 = 0
       |      THEN greatest(1, $RawBinNSql // 2) ELSE $RawBinNSql END"""
      .stripMargin

  /** Shared full-reprocess oracle for the chained incremental cycles
    * (q375/q378): the three-stage replay over lineitem ⋈ orders with
    * the per-line effective bin count plugged in (`binNSql`) — q375
    * uses the raw derivation, q378 applies the validator's
    * resubmission edit to it.
    */
  private def chainOracleSql(binNSql: String): String =
    chainCleanCtes(binNSql) +
      """
        |SELECT district, month, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(catch_kg * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM clean GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Full-reprocess oracle for the COMPLETE-topology cycle (q387):
    * [[chainCleanCtes]] with the resubmission edit, then per-submission
    * contributions, the gated 1:1 trip merge (window-count gate — the
    * q19 oracle shape), and the survey-centric monthly export.
    */
  private def tripsChainOracleSql: String =
    tripsTopologyOracleSql(EditedBinNSql, contribWhere = "",
      includeDupTrips = true)

  /** Full-reprocess oracle for the PARTITIONED-state topology cycle
    * (q390): identical four-stage walk to q387's; the fixture confines
    * the resubmission edits and the duplicate late trips to the 1998
    * window (a realistic nightly slice — most month partitions stay
    * untouched, which is the point of the partitioned publish), so the
    * edit and the dup branch carry the window predicates.
    */
  private def partitionedTripsOracleSql: String =
    tripsTopologyOracleSql(WindowedEditedBinNSql, contribWhere = "",
      includeDupTrips = true,
      dupTripsAnd = " AND CAST(o_orderdate AS DATE) >= DATE '2001-01-01'")

  /** The q390 resubmission edit: every 23rd submission landing in
    * [2001-01-01, 2001-06-01) re-pulls with halved bin counts.
    */
  private def WindowedEditedBinNSql: String =
    s"""CASE WHEN CAST(o_orderdate AS DATE) >= DATE '2001-01-01'
       |      AND CAST(o_orderdate AS DATE) < DATE '2001-06-01'
       |      AND o_orderkey % 23 = 0
       |      THEN greatest(1, $RawBinNSql // 2) ELSE $RawBinNSql END"""
      .stripMargin

  /** Full-reprocess oracle for the complete topology WITH the derived
    * export (q391/q392): the four-stage walk of
    * [[tripsTopologyOracleSql]] at TAXON grain, ending in the
    * trip-enriched monthly export JOINED with the top-3+"Other"
    * composition and the taxon-sorted JSON doc (the q388 walk) — one
    * row per composition entry carrying its month's export rollup.
    */
  private def topologyExportOracleSql(binNSql: String, contribWhere: String,
                                      includeDupTrips: Boolean,
                                      dupTripsAnd: String = ""): String = {
    val dupBranch = if (includeDupTrips) s"""
      |  UNION ALL
      |  SELECT o_orderkey + 1,
      |    'IMEI' || CAST(o_orderkey % 97 AS VARCHAR),
      |    CAST(o_orderdate AS DATE),
      |    CAST((o_orderkey + 1) % 7000 + 3600 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 51 = 0$dupTripsAnd""".stripMargin
    else ""
    chainCleanCtes(binNSql) + s""",
      |contribT AS (
      |  SELECT submission_id, district, month, imei, landing_date,
      |    catch_taxon,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(catch_kg * 100) AS BIGINT)) AS BIGINT)
      |      AS sum_cents
      |  FROM clean
      |$contribWhere  GROUP BY 1, 2, 3, 4, 5, 6),
      |contrib AS (
      |  SELECT submission_id, district, month, imei, landing_date,
      |    CAST(sum(n) AS BIGINT) AS n,
      |    CAST(sum(sum_cents) AS BIGINT) AS sum_cents
      |  FROM contribT GROUP BY 1, 2, 3, 4, 5),
      |trips AS (
      |  SELECT o_orderkey AS trip_id,
      |    'IMEI' || CAST(o_orderkey % 97 AS VARCHAR) AS imei,
      |    CAST(o_orderdate AS DATE) AS landing_date,
      |    CAST(o_orderkey % 7000 + 3600 AS BIGINT) AS duration_sec
      |  FROM orders WHERE o_orderkey % 3 = 0$dupBranch),
      |lc AS (SELECT *, count(*) OVER (PARTITION BY imei, landing_date)
      |         AS kn FROM contrib),
      |rc AS (SELECT *, count(*) OVER (PARTITION BY imei, landing_date)
      |         AS kn FROM trips),
      |lu AS (SELECT submission_id, district, month, imei, landing_date,
      |         n, sum_cents FROM lc WHERE kn = 1),
      |ld AS (SELECT submission_id, district, month, imei, landing_date,
      |         n, sum_cents FROM lc WHERE kn > 1),
      |ru AS (SELECT trip_id, imei, landing_date, duration_sec
      |       FROM rc WHERE kn = 1),
      |rd AS (SELECT trip_id, imei, landing_date, duration_sec
      |       FROM rc WHERE kn > 1),
      |merged AS (
      |  SELECT lu.submission_id, lu.district, lu.month, lu.n,
      |    lu.sum_cents, ru.trip_id, ru.duration_sec
      |  FROM lu FULL JOIN ru USING (imei, landing_date)
      |  UNION ALL
      |  SELECT submission_id, district, month, n, sum_cents, NULL, NULL
      |  FROM ld
      |  UNION ALL
      |  SELECT NULL, NULL, NULL, NULL, NULL, trip_id, duration_sec
      |  FROM rd),
      |exp AS (
      |  SELECT district, month, CAST(sum(n) AS BIGINT) AS n_rows,
      |    CAST(sum(sum_cents) AS BIGINT) AS sum_cents,
      |    CAST(count(trip_id) AS BIGINT) AS n_matched,
      |    CAST(coalesce(sum(CASE WHEN trip_id IS NOT NULL
      |      THEN duration_sec END), 0) AS BIGINT) AS dur_sec
      |  FROM merged WHERE submission_id IS NOT NULL
      |  GROUP BY 1, 2),
      |sums AS (
      |  SELECT district, month, catch_taxon AS taxon0,
      |    CAST(sum(sum_cents) AS BIGINT) AS cents
      |  FROM contribT GROUP BY 1, 2, 3),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY district, month
      |      ORDER BY cents DESC, taxon0) AS rn
      |  FROM sums),
      |lumped AS (
      |  SELECT district, month,
      |    CASE WHEN rn <= 3 THEN taxon0 ELSE 'Other' END AS taxon,
      |    CAST(sum(cents) AS BIGINT) AS cents
      |  FROM ranked GROUP BY 1, 2, 3),
      |tot AS (SELECT district, month, CAST(sum(cents) AS BIGINT) AS tc
      |        FROM lumped GROUP BY 1, 2),
      |comp AS (
      |  SELECT l.district, l.month, l.taxon, l.cents,
      |    CAST(row_number() OVER (PARTITION BY l.district, l.month
      |      ORDER BY l.cents DESC, l.taxon) AS BIGINT) AS rnk,
      |    CAST(round(CAST(l.cents AS DOUBLE) * 100000.0
      |      / CAST(t.tc AS DOUBLE)) AS BIGINT) AS pct_milli
      |  FROM lumped l JOIN tot t USING (district, month)),
      |doc AS (
      |  SELECT district, month,
      |    CAST(to_json(list(struct_pack(taxon := taxon, cents := cents)
      |      ORDER BY taxon)) AS VARCHAR) AS doc
      |  FROM comp GROUP BY 1, 2)
      |SELECT c.district, c.month, c.rnk, c.taxon, c.cents, c.pct_milli,
      |  d.doc, e.n_rows, e.sum_cents, e.n_matched, e.dur_sec
      |FROM comp c
      |JOIN doc d USING (district, month)
      |JOIN exp e USING (district, month)
      |ORDER BY 1, 2, 3""".stripMargin
  }

  /** Full-reprocess-minus-deleted oracle for the takedown cycle
    * (q389): the same four-stage walk with the tombstoned prior
    * submissions excluded before contributions form.
    */
  private def takedownOracleSql: String =
    tripsTopologyOracleSql(RawBinNSql,
      contribWhere = "  WHERE NOT (submission_id % 31 = 0" +
        " AND landing_date < DATE '1998-06-15')\n",
      includeDupTrips = false)

  private def tripsTopologyOracleSql(binNSql: String, contribWhere: String,
                                     includeDupTrips: Boolean,
                                     dupTripsAnd: String = ""): String = {
    val dupBranch = if (includeDupTrips) s"""
      |  UNION ALL
      |  SELECT o_orderkey + 1,
      |    'IMEI' || CAST(o_orderkey % 97 AS VARCHAR),
      |    CAST(o_orderdate AS DATE),
      |    CAST((o_orderkey + 1) % 7000 + 3600 AS BIGINT)
      |  FROM orders WHERE o_orderkey % 51 = 0$dupTripsAnd""".stripMargin
    else ""
    chainCleanCtes(binNSql) + s""",
      |contrib AS (
      |  SELECT submission_id, district, month, imei, landing_date,
      |    CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(catch_kg * 100) AS BIGINT)) AS BIGINT)
      |      AS sum_cents
      |  FROM clean
      |$contribWhere  GROUP BY 1, 2, 3, 4, 5),
      |trips AS (
      |  SELECT o_orderkey AS trip_id,
      |    'IMEI' || CAST(o_orderkey % 97 AS VARCHAR) AS imei,
      |    CAST(o_orderdate AS DATE) AS landing_date,
      |    CAST(o_orderkey % 7000 + 3600 AS BIGINT) AS duration_sec
      |  FROM orders WHERE o_orderkey % 3 = 0$dupBranch),
      |lc AS (SELECT *, count(*) OVER (PARTITION BY imei, landing_date)
      |         AS kn FROM contrib),
      |rc AS (SELECT *, count(*) OVER (PARTITION BY imei, landing_date)
      |         AS kn FROM trips),
      |lu AS (SELECT submission_id, district, month, imei, landing_date,
      |         n, sum_cents FROM lc WHERE kn = 1),
      |ld AS (SELECT submission_id, district, month, imei, landing_date,
      |         n, sum_cents FROM lc WHERE kn > 1),
      |ru AS (SELECT trip_id, imei, landing_date, duration_sec
      |       FROM rc WHERE kn = 1),
      |rd AS (SELECT trip_id, imei, landing_date, duration_sec
      |       FROM rc WHERE kn > 1),
      |merged AS (
      |  SELECT lu.submission_id, lu.district, lu.month, lu.n,
      |    lu.sum_cents, ru.trip_id, ru.duration_sec
      |  FROM lu FULL JOIN ru USING (imei, landing_date)
      |  UNION ALL
      |  SELECT submission_id, district, month, n, sum_cents, NULL, NULL
      |  FROM ld
      |  UNION ALL
      |  SELECT NULL, NULL, NULL, NULL, NULL, trip_id, duration_sec
      |  FROM rd)
      |SELECT district, month, CAST(sum(n) AS BIGINT) AS n_rows,
      |  CAST(sum(sum_cents) AS BIGINT) AS sum_cents,
      |  CAST(count(trip_id) AS BIGINT) AS n_matched,
      |  CAST(coalesce(sum(CASE WHEN trip_id IS NOT NULL
      |    THEN duration_sec END), 0) AS BIGINT) AS dur_sec
      |FROM merged WHERE submission_id IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** The shared preprocess+validate CTE chain (lw metadata → flat
    * survey rows with the merge keys → length/bucket split → LW catch
    * calc → whole-submission exclusion), ending at `clean`.
    */
  private def chainCleanCtes(binNSql: String): String =
    s"""WITH lw(catch_taxon, a_6, b_6, min_length, max_length_75) AS (
       |  VALUES
       |  ('OCZ', CAST(0.0631 AS DOUBLE), CAST(2.8 AS DOUBLE),
       |    CAST(10.0 AS DOUBLE), CAST(50.0 AS DOUBLE)),
       |  ('TUS', CAST(0.0085 AS DOUBLE), CAST(3.1 AS DOUBLE),
       |    CAST(12.0 AS DOUBLE), CAST(55.0 AS DOUBLE)),
       |  ('CRB', CAST(0.2 AS DOUBLE), CAST(2.5 AS DOUBLE),
       |    CAST(5.0 AS DOUBLE), CAST(52.5 AS DOUBLE)),
       |  ('SNA', CAST(0.012 AS DOUBLE), CAST(3.0 AS DOUBLE),
       |    CAST(10.0 AS DOUBLE), CAST(47.5 AS DOUBLE)),
       |  ('GRP', CAST(0.015 AS DOUBLE), CAST(2.9 AS DOUBLE),
       |    CAST(5.0 AS DOUBLE), CAST(57.5 AS DOUBLE))),
       |flat AS (
       |  SELECT o_orderkey AS submission_id,
       |    o_orderpriority AS district,
       |    CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       |    'IMEI' || CAST(o_orderkey % 97 AS VARCHAR) AS imei,
       |    CAST(o_orderdate AS DATE) AS landing_date,
       |    ['OCZ','TUN','CRB','SNA','GRP'][CAST(l_partkey % 5 AS INT) + 1]
       |      AS species,
       |    l_linenumber % 3 AS mode,
       |    l_partkey % 19 = 0 AS incomplete,
       |    CAST(7.5 AS DOUBLE) + CAST(5.0 AS DOUBLE)
       |      * CAST(CAST(l_quantity AS BIGINT) % 11 AS DOUBLE) AS length0,
       |    $binNSql AS bin_n,
       |    CAST(l_partkey % 40 + 1 AS DOUBLE) AS nb,
       |    CAST(l_quantity AS DOUBLE) AS wb
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |r0 AS (
       |  SELECT submission_id, district, month, imei, landing_date,
       |    CASE WHEN species = 'TUN' THEN 'TUS' ELSE species END
       |      AS catch_taxon,
       |    CASE WHEN NOT incomplete AND mode <> 1 THEN length0 END
       |      AS length,
       |    CASE WHEN NOT incomplete AND mode <> 1
       |      THEN CAST(bin_n AS DOUBLE) END AS individuals,
       |    CASE WHEN NOT incomplete AND mode = 1 THEN nb END AS n_buckets,
       |    CASE WHEN NOT incomplete AND mode = 1 THEN wb END
       |      AS weight_bucket
       |  FROM flat),
       |calc AS (
       |  SELECT r0.*, lw.min_length, lw.max_length_75,
       |    coalesce(
       |      CASE WHEN length IS NOT NULL THEN
       |        a_6 * pow(CASE WHEN catch_taxon = 'OCZ'
       |            THEN length / CAST(5.5 AS DOUBLE) ELSE length END, b_6)
       |          * individuals / CAST(1000.0 AS DOUBLE) END,
       |      n_buckets * weight_bucket) AS catch_kg
       |  FROM r0 JOIN lw USING (catch_taxon)),
       |bad AS (
       |  SELECT DISTINCT submission_id FROM calc
       |  WHERE (catch_taxon IS NOT NULL
       |      AND (catch_kg IS NULL OR catch_kg <= 0)
       |      AND (individuals IS NULL OR individuals <= 0))
       |    OR (length IS NOT NULL AND length < min_length)
       |    OR (length IS NOT NULL AND length > max_length_75)
       |    OR (weight_bucket IS NOT NULL AND weight_bucket > 45)
       |    OR (n_buckets IS NOT NULL AND n_buckets > 30)
       |    OR (individuals IS NOT NULL AND individuals > 1000)),
       |clean AS (
       |  SELECT * FROM calc
       |  WHERE submission_id NOT IN (SELECT submission_id FROM bad))"""
      .stripMargin

  /** Generations of the trips/topology fixtures: the prior state is
    * `Gen1`, the nightly batch and the cycle's publish `Gen2`.
    */
  private val Gen1 = "00000001_aaa"
  private val Gen2 = "00000002_bbb"

  /** Drop `root`'s manifest generations left in `dir` by an earlier run
    * of the same query: the fresh `Gen1` commit would otherwise read as
    * stale next to that run's `Gen2`.
    */
  private def dropManifests(dir: String, root: String): Unit =
    Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
      .filter(_.getName.startsWith(s"${root}__")).foreach(_.delete()))

  /** One trips/topology fixture (q387–q424): the prior state, the
    * nightly batch, and the lw table of the chained survey pipeline. Its
    * frames are lazy; the writers lay them out per lane under the
    * query's short name `t` (`<t>_sstate`, `<t>_tstate`, `<t>_merged`,
    * `<t>_sraw`, `<t>_traw`, `<t>_tomb`, manifest `<t>_root`).
    */
  private final case class TopologyFixture(
      lw: org.apache.spark.sql.DataFrame,
      sPrior: org.apache.spark.sql.DataFrame,
      tPrior: org.apache.spark.sql.DataFrame,
      mPrior: org.apache.spark.sql.DataFrame,
      sRaw: org.apache.spark.sql.DataFrame,
      tRaw: org.apache.spark.sql.DataFrame,
      tomb: Option[org.apache.spark.sql.DataFrame]) {

    /** The nightly batch as `Gen2` objects. */
    def writeDeltas(dir: String, t: String): Unit = {
      Versioned.write(sRaw, dir, s"${t}_sraw", Gen2)
      Versioned.write(tRaw, dir, s"${t}_traw", Gen2)
      tomb.foreach(Versioned.write(_, dir, s"${t}_tomb", Gen2))
    }

    /** The prior state as `Gen1` objects, pinned by a fresh manifest
      * `<t>_root` when `manifest`.
      */
    def writeObjects(dir: String, t: String, manifest: Boolean): Unit = {
      val roots = Seq(sPrior -> s"${t}_sstate", tPrior -> s"${t}_tstate",
        mPrior -> s"${t}_merged")
      roots.foreach { case (df, p) => Versioned.write(df, dir, p, Gen1) }
      if (manifest) {
        dropManifests(dir, s"${t}_root")
        Versioned.commitManifest(dir, s"${t}_root", Gen1,
          roots.map(_._2 -> Gen1).toMap)
      }
    }

    /** The prior state as in-place month-partitioned roots. */
    def writePartitioned(dir: String, t: String): Unit = {
      Versioned.writePartitionedFull(sPrior, dir, s"${t}_sstate",
        Seq("month"))
      Versioned.writePartitionedFull(byLandingMonth(tPrior), dir,
        s"${t}_tstate", Seq("lmonth"))
      Versioned.writePartitionedFull(byLandingMonth(mPrior), dir,
        s"${t}_merged", Seq("lmonth"))
    }

    /** The prior state as `Gen1` snapshot roots, the survey state in
      * `surveyFiles` files per month, for a fresh manifest `<t>_root`.
      * @return the survey state's months and the manifest entries
      *         pinning all three roots
      */
    def writeSnapshots(dir: String, t: String,
                       surveyFiles: Int): (Set[Any], Map[String, String]) = {
      dropManifests(dir, s"${t}_root")
      val sP = Versioned.writeSnapshotFull(sPrior, dir, s"${t}_sstate",
        "month", Gen1, surveyFiles)
      val tP = Versioned.writeSnapshotFull(byLandingMonth(tPrior), dir,
        s"${t}_tstate", "lmonth", Gen1)
      val mP = Versioned.writeSnapshotFull(byLandingMonth(mPrior), dir,
        s"${t}_merged", "lmonth", Gen1)
      (sP, Seq(s"${t}_sstate" -> sP, s"${t}_tstate" -> tP,
        s"${t}_merged" -> mP).flatMap { case (p, vs) =>
        vs.map(v => Versioned.snapshotPinKey(p, v) -> Gen1) }.toMap)
    }

    private def byLandingMonth(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("lmonth", trunc(col("landing_date"), "month"))
  }

  /** The trips/topology fixture over lineitem ⋈ orders
    * ([[chainSurveyFlat]]): surveys landing before `cutoff` are the
    * prior state and the rest arrive in the nightly survey delta. With
    * `tripCut`, trips landing from it on arrive late; without it, every
    * 30th trip does. With `edits`, the delta also carries (a) every
    * 23rd prior submission re-pulled with its bin counts halved (floor
    * 1) — the validator's resubmission edit — and (b) a seeded SECOND
    * trip (trip_id + 1, same device-day) for every 51st trip, so a
    * published 1:1 match must UN-MERGE; `tripCut` confines both to
    * landings from it on. `tomb` names which every-31st prior
    * submissions a takedown batch of (submission_id, month) rows
    * removes. The prior contributions keep taxon grain when `taxon`;
    * the prior merge gates them at submission grain either way.
    */
  private def topologyFixture(s: org.apache.spark.sql.SparkSession,
                              d: String, cutoff: String,
                              tripCut: Option[String], edits: Boolean,
                              tomb: Option[org.apache.spark.sql.Column],
                              taxon: Boolean): TopologyFixture = {
    import s.implicits._
    val keys = Seq("imei", "landing_date")
    val lw = chainLwTable(s)
    // persisted: the fixture writes and the cycle's delta both read it;
    // unpersisted each would re-run the lineitem ⋈ orders scan
    val flat = chainSurveyFlat(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def nest(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"submission_id", $"district", $"month", $"imei",
          $"landing_date")
        .agg(collect_list($"sg").as("species_groups"))
    val late = tripCut.map(c => to_date(lit(c)))
    def fromTripCut(df: org.apache.spark.sql.DataFrame, day: String) =
      late.fold(df)(c => df.filter(col(day) >= c))
    val prior = flat.filter($"day" < to_date(lit(cutoff)))
    val edited = fromTripCut(prior.filter($"submission_id" % 23 === 0), "day")
      .withColumn("sg", $"sg".withField("length_bins",
        transform($"sg.length_bins", b => struct(
          b.getField("length_class").as("length_class"),
          greatest(lit(1L), shiftright(b.getField("n"), 1)).as("n")))))
    val trips = Tables.orders(s, d).filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey".as("trip_id"),
        concat(lit("IMEI"), ($"o_orderkey" % 97).cast("string")).as("imei"),
        to_date($"o_orderdate").as("landing_date"),
        ($"o_orderkey" % 7000 + 3600).cast("long").as("duration_sec"))
    val dupTrips = fromTripCut(trips.filter($"trip_id" % 51 === 0),
        "landing_date")
      .select(($"trip_id" + 1).as("trip_id"), $"imei", $"landing_date",
        (($"trip_id" + 1) % 7000 + 3600).cast("long").as("duration_sec"))
    val (tPrior, tDelta) = late.fold((trips.filter($"trip_id" % 30 =!= 0),
        trips.filter($"trip_id" % 30 === 0)))(c =>
      (trips.filter($"landing_date" < c), trips.filter($"landing_date" >= c)))
    // persisted: its own write and the prior merge both consume it
    val sPrior = Incremental.submissionContrib(
      Incremental.surveyProcess(nest(prior), lw,
        Seq("district", "month") ++ keys),
        if (taxon) keys :+ "catch_taxon" else keys)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the 1:1 gate counts SUBMISSIONS per device-day
    val subPrior = if (!taxon) sPrior
      else sPrior.groupBy($"submission_id", $"district", $"month", $"imei",
          $"landing_date")
        .agg(sum($"n").as("n"), sum($"sum_cents").as("sum_cents"))
    val sNew = flat.filter($"day" >= to_date(lit(cutoff)))
    TopologyFixture(lw, sPrior, tPrior,
      graft.ops.GatedMerge.gatedOneToOne(subPrior, tPrior, keys),
      nest(if (edits) sNew.unionByName(edited) else sNew).coalesce(4),
      if (edits) tDelta.unionByName(dupTrips) else tDelta,
      tomb.map(p => prior.filter($"submission_id" % 31 === 0 && p)
        .select($"submission_id", $"month").distinct()))
  }

  /** Per-taxon LW + length-bound metadata for the chained incremental
    * cycle (q375): broadcast-sized, mirrored by the oracle's VALUES
    * table. Includes the OCZ mantle-length taxon and (via the TUN→TUS
    * recode upstream) the recoded tuna row.
    */
  private[graft] def chainLwTable(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    Seq(
      ("OCZ", 0.0631, 2.8, 10.0, 50.0),
      ("TUS", 0.0085, 3.1, 12.0, 55.0),
      ("CRB", 0.2, 2.5, 5.0, 52.5),
      ("SNA", 0.012, 3.0, 10.0, 47.5),
      ("GRP", 0.015, 2.9, 5.0, 57.5))
      .toDF("catch_taxon", "a_6", "b_6", "min_length", "max_length_75")
  }

  /** Survey-shaped catch rows derived deterministically from
    * lineitem ⋈ orders for q375: each order is a submission, each line a
    * species group that is length-binned (mode ≠ 1), bucket-counted
    * (mode = 1), or incomplete (every 19th part — exercises flag 2).
    * Flag-triggering values are seeded on purpose: individuals 1500
    * (flag 7), n_buckets 31–40 (flag 6), weight_bucket 46–50 (flag 5),
    * and per-taxon length bounds that catch the 7.5 / 52.5+ midpoints
    * (flags 3–4). Returned flat with the per-line nested struct `sg`;
    * callers group to `species_groups` per submission.
    */
  private[graft] def chainSurveyFlat(s: org.apache.spark.sql.SparkSession,
                              d: String) = {
    import s.implicits._
    val taxa = array(lit("OCZ"), lit("TUN"), lit("CRB"), lit("SNA"),
      lit("GRP"))
    val bins = array(Seq("5_10", "10_15", "15_20", "20_25", "25_30",
      "30_35", "35_40", "40_45", "45_50", "50_55", "55_60").map(lit): _*)
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .select(
        $"o_orderkey".as("submission_id"),
        $"o_orderpriority".as("district"),
        trunc(to_date($"o_orderdate"), "month").as("month"),
        to_date($"o_orderdate").as("day"),
        element_at(taxa, ($"l_partkey" % 5 + 1).cast("int")).as("species"),
        ($"l_linenumber" % 3).as("mode"),
        ($"l_partkey" % 19 === 0).as("incomplete"),
        element_at(bins, ($"l_quantity".cast("long") % 11 + 1).cast("int"))
          .as("length_class"),
        when($"l_suppkey" % 37 === 0, 1500L)
          .otherwise($"l_suppkey" % 9 + 1).as("bin_n"),
        ($"l_partkey" % 40 + 1).cast("double").as("nb"),
        $"l_quantity".cast("double").as("wb"))
      .select(
        $"submission_id", $"district", $"month", $"day",
        concat(lit("IMEI"), ($"submission_id" % 97).cast("string"))
          .as("imei"),
        $"day".as("landing_date"),
        struct(
          $"species",
          when($"incomplete", "none").when($"mode" === 1, "bucket")
            .otherwise("bins").as("counting_method"),
          when(!$"incomplete" && $"mode" === 1, $"nb").as("n_buckets"),
          when(!$"incomplete" && $"mode" === 1, $"wb").as("weight_bucket"),
          lit(null).cast("double").as("catch_estimate"),
          slice(array(struct($"length_class", $"bin_n".as("n"))), lit(1),
            when(!$"incomplete" && $"mode" =!= 1, lit(1)).otherwise(lit(0)))
            .as("length_bins")).as("sg"))
  }
}
