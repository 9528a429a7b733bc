package graft.queries

import graft.Tables
import graft.ops.{AsofJoin, Relational, Upsert}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational query catalog: one named query per SURVEY.md §2 operator
  * row, each with a DuckDB oracle producing identical columns/values.
  *
  * Determinism rules applied throughout (so value-hash comparison against
  * the oracle is exact):
  *  - Double SUMs go through DECIMAL (exact, order-independent), then cast
  *    back to double — a parallel double sum is order-dependent and would
  *    flake. MIN/MAX/COUNT are order-independent already.
  *  - Every window/limit has a total tiebreak ordering.
  *  - row_number()/count() outputs are BIGINT on both engines.
  *  - Timestamps are emitted as epoch millis (both engines truncate the
  *    parquet ns values to micros, so epoch_ms agrees).
  */
object CoreQueries {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Exact order-independent double sum of a 2-decimal column: sum as
    * scaled-integer (cents) longs, then one double division. Identical to
    * a decimal-sum-then-cast (both produce the nearest double to the exact
    * rational) at a fraction of the aggregation cost; floor(x*100+0.5) is
    * round-half-up for the non-negative inputs and stays in codegen. */
  private def dsum(c: String) =
    (sum(floor(col(c) * 100 + 0.5).cast("long")) / 100.0)

  /** The versioned name-map dataset — the engine-policy form of the
    * reference's 1,272-entry contestant name map
    * (data/interim/truedorks_contestant_namemap.yaml): canonical names live
    * as DATA (data/namemap.csv), not code. This in-code copy is what the
    * DuckDB oracle inlines; ExtractSpec asserts the CSV asset matches it
    * entry-for-entry, so asset drift fails CI rather than silently
    * diverging from the oracle. */
  val nameMapEntries: Seq[(String, String)] = Seq(
    "c1" -> "jon dalton", "c7" -> "rupert boneham", "c13" -> "parvati shallow",
    "c17" -> "cirie fields", "c19" -> "ozzy lusth", "c23" -> "sandra diaz-twine",
    "c29" -> "tony vlachos", "c31" -> "rob mariano", "c37" -> "amber brkich",
    "c41" -> "tom westman", "c43" -> "yul kwon", "c47" -> "todd herzog",
    "c53" -> "bob crowley", "c59" -> "natalie white", "c61" -> "fabio birza",
    "c67" -> "kim spradlin", "c71" -> "denise stapley", "c73" -> "john cochran",
    "c79" -> "tyson apostol", "c83" -> "natalie anderson", "c89" -> "mike holloway",
    "c97" -> "michele fitzgerald", "c101" -> "adam klein", "c103" -> "sarah lacina",
    "c107" -> "ben driebergen", "c109" -> "wendell holland", "c113" -> "nick wilson",
    "c127" -> "chris underwood", "c131" -> "tommy sheehan", "c137" -> "erika casupanan",
    "c139" -> "maryanne oketch", "c149" -> "mike gabler", "c151" -> "dee valladares",
    "c157" -> "kenzie petty", "c163" -> "rachel lamont",
    "c1400" -> "customer fourteen hundred")

  /** Ordered fix-rule chain applied BEFORE the mapping join (reference
    * `alter_key`'s 35 ordered rules, episodes/episodes_transform.py:38-80):
    * rule 2 only fires on rule 1's output, so order is semantic. */
  val nameFixChain: Seq[(String, String)] =
    Seq("Customer#" -> "C", "^C0+" -> "c")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ───── §2.8 replace-chain + data-driven canonicalization: the ordered
    // regex fix rules, then the versioned name-map asset joined broadcast;
    // unmapped names pass through (reference episodes_transform.py:38-80 +
    // the contestant name-map yaml)
    "q37_mapping_chain" -> ((s, d) => {
      // the one query reading a repo data asset: resolve relative to the
      // CWD when present (sbt runs from the repo root), else the canonical
      // repo path — a spark-submit from elsewhere must still find it
      val csvPath =
        if (new java.io.File("data/namemap.csv").exists()) "data/namemap.csv"
        else "/root/repo/data/namemap.csv"
      val mapping = s.read.option("header", "true").csv(csvPath)
      val chained = t(s, d, "customer").select(col("c_custkey"),
        graft.ops.Extract.replaceChain(col("c_name"), nameFixChain).as("name"))
      graft.ops.Extract.mappingJoin(chained, "name", mapping, "dirty", "canonical")
        .select(col("c_custkey"), col("name"))
    }),

    // ───── A1/A2: hash aggregate with exact sums (TPC-H Q1 shape).
    // Money/quantity sums run as scaled-integer (cents) LONG sums — exact,
    // order-independent, and ~20× faster than BigDecimal aggregation; the
    // final double (nearest double to the exact rational) is identical to
    // a decimal-sum-then-cast.
    "q01_agg_pricing" -> ((s, d) => {
      // floor(x*100 + 0.5) = round-half-up for the non-negative 2-decimal
      // inputs; floor+cast stays in double/long codegen (round() would go
      // through BigDecimal per row)
      val cents = (c: String) => floor(col(c) * 100 + 0.5).cast("long")
      val l = t(s, d, "lineitem")
        .withColumn("qty_c", cents("l_quantity"))
        .withColumn("price_c", cents("l_extendedprice"))
        .withColumn("disc_c", cents("l_discount"))
      l.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (sum(col("qty_c")) / 100.0).as("sum_qty"),
          (sum(col("price_c")) / 100.0).as("sum_base_price"),
          (sum(col("price_c") * (lit(100L) - col("disc_c"))) / 10000.0).as("sum_disc_price"),
          ((sum(col("qty_c")) / 100.0) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // ───── P1/P3/P5/P6: filter + projection + derived cols; predicates push to scan
    "q02_filter_project" -> ((s, d) => {
      t(s, d, "events")
        .filter(col("value").isNotNull && col("event_type") === "purchase" && col("value") > 50)
        .select(col("event_id"), col("user_id"),
          unix_millis(col("ts")).as("ts_ms"),
          round(col("value") * 100, 0).cast("long").as("value_cents"))
    }),

    // ───── J1+A1+W1 flagship: multi-way left join over pre-aggregates + ranking window
    // (reference pull_agg_contestant_stats, helpers/db_funcs.py:4-45)
    "q03_agg_join_rank" -> ((s, d) => {
      val o = t(s, d, "orders")
      val ord = o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum("o_totalprice").as("total_spent"))
        .withColumnRenamed("o_custkey", "ord_custkey")
      val li = t(s, d, "lineitem")
        .join(o.select("o_orderkey", "o_custkey"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey")).agg(dsum("l_quantity").as("total_qty"))
        .withColumnRenamed("o_custkey", "li_custkey")
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"), "left")
        .join(ord, col("c_custkey") === col("ord_custkey"), "left")
        .join(li, col("c_custkey") === col("li_custkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spent"), lit(-1.0)).as("total_spent"),
          coalesce(col("total_qty"), lit(-1.0)).as("total_qty"))
        .withColumn("spend_rank",
          row_number().over(Window.partitionBy(col("n_name"))
            .orderBy(col("total_spent").desc, col("c_custkey"))).cast("long"))
    }),

    // ───── W1/W2: ranking windows with deterministic and tie-tolerant orders
    "q04_window_rank" -> ((s, d) => {
      val byBal = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val bySeg = Window.partitionBy(col("c_nationkey")).orderBy(col("c_mktsegment"))
      t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
        .withColumn("rn", row_number().over(byBal).cast("long"))
        .withColumn("seg_rank", rank().over(bySeg).cast("long"))
        .withColumn("seg_dense", dense_rank().over(bySeg).cast("long"))
    }),

    // ───── J2/J5: star join, every dimension broadcast (no shuffled join at any scale)
    "q05_star_join" -> ((s, d) => {
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          dsum("l_quantity").as("sum_qty"),
          dsum("l_extendedprice").as("sum_price"))
    }),

    // ───── J4: as-of join — purchase events pick up the most recent prior click
    "q06_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_value"),
          unix_millis(col("ts")).as("click_ts_ms"),
          col("event_id").as("click_eid"))
      AsofJoin.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
          Seq("click_value", "click_ts_ms"),
          buildTiebreak = Seq(col("click_eid")))
        .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("click_value"), col("click_ts_ms"))
    }),

    // ───── W4: running fill (last non-null carried forward) + running sum.
    // Both outputs leave the query as scaled-integer cents (BIGINT): the
    // fill/sum operators are unchanged, but no raw double reaches the hashed
    // comparison surface (round-1 driver hash flaked on the null-heavy
    // double `filled` column despite bitwise-identical values).
    "q07_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("filled_cents",
          floor(last(when(col("event_type") =!= "error", col("value")), ignoreNulls = true)
            .over(w) * 100 + 0.5).cast("long"))
        .withColumn("run_sum_cents",
          sum(floor(col("value") * 100 + 0.5).cast("long")).over(w))
        .select(col("event_id"), col("user_id"), col("filled_cents"), col("run_sum_cents"))
    }),

    // ───── P8: keyed dedup with deterministic survivor
    "q08_dedup_keys" -> ((s, d) => {
      Relational.dedupByKeys(t(s, d, "lineitem"), Seq("l_orderkey"),
          Seq(col("l_linenumber").asc, col("l_quantity").asc, col("l_extendedprice").asc))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
    }),

    // ───── J7: two-stage fuzzy match with fallback key
    "q09_fuzzy_two_stage" -> ((s, d) => {
      val probe = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val dim = t(s, d, "customer")
      Relational.fuzzyTwoStageJoin(
        probe, dim,
        strongKey = (when(col("o_orderkey") % 5 =!= 0, col("o_custkey")), col("c_custkey")),
        weakKey = ((col("o_custkey") % 50) + 1, col("c_custkey")),
        pick = Seq("c_name", "c_nationkey"))
    }),

    // ───── P7: schema conform — add-missing-as-null / cast / drop-extra
    "q10_conform_schema" -> ((s, d) => {
      Relational.conformTo(t(s, d, "orders"), StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", IntegerType),
        StructField("o_orderdate", DateType),
        StructField("o_comment", StringType))))
    }),

    // ───── O3: union-by-name with missing-column reconciliation
    "q11_union_reconcile" -> ((s, d) => {
      val c = t(s, d, "customer").select(
        col("c_custkey").as("entity_id"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), lit("customer").as("src"))
      val sup = t(s, d, "supplier").select(
        col("s_suppkey").as("entity_id"), col("s_name").as("name"),
        col("s_nationkey").cast("int").as("nationkey"), lit("supplier").as("src"))
      c.unionByName(sup, allowMissingColumns = true)
    }),

    // ───── O5: unpivot / melt wide → long
    "q12_unpivot" -> ((s, d) => {
      t(s, d, "part")
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          col("p_retailprice").as("retail"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("retail")), "attr", "val")
    }),

    // ───── O4/G3: explode + distinct
    "q13_explode_distinct" -> ((s, d) => {
      t(s, d, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .filter(col("word") =!= "")
        .distinct()
    }),

    // ───── O6: fixed-width array expansion (null-padded)
    "q14_fixed_width" -> ((s, d) => {
      val arr = t(s, d, "nation").groupBy(col("n_regionkey"))
        .agg(sort_array(collect_list(col("n_name"))).as("arr"))
      Relational.fixedWidth(arr, "arr", "nation", 6)
    }),

    // ───── A3: deterministic max+row_number id allocation
    "q15_id_allocation" -> ((s, d) => {
      val base = t(s, d, "customer").select(
        when(col("c_custkey") % 10 === 0, lit(null)).otherwise(col("c_custkey"))
          .cast("long").as("cid"),
        col("c_custkey").as("natural_key"), col("c_name"))
      Relational.allocateIds(base, "cid", Seq(col("natural_key")))
    }),

    // ───── P9 + coalesce-defaults: conditional null-out then default
    "q16_null_default" -> ((s, d) => {
      t(s, d, "events").select(col("event_id"),
        coalesce(
          when(col("ts") <= lit("2024-03-01 00:00:00").cast("timestamp"), col("value")),
          lit(-1.0)).as("value_or_default"))
    }),

    // ───── §2.8 regex bank: extract from semi-structured text
    "q17_regex_extract" -> ((s, d) => {
      val k = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
      t(s, d, "events").select(col("event_id"),
        when(k === "", lit(null).cast("long")).otherwise(k.cast("long")).as("k"))
    }),

    // ───── §2.8 string family: lower/lpad/concat_ws/split/replace-chain
    "q18_string_funcs" -> ((s, d) => {
      t(s, d, "customer").select(
        col("c_custkey"),
        lower(col("c_name")).as("lname"),
        lpad(col("c_custkey").cast("string"), 9, "0").as("padded"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("joined"),
        element_at(split(col("c_name"), "#"), 1).as("first_token"),
        regexp_replace(col("c_name"), "Customer", "CUST").as("renamed"))
    }),

    // ───── §2.8 date/time family
    "q19_date_funcs" -> ((s, d) => {
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        unix_millis(date_trunc("MONTH", col("o_orderdate"))).as("month_start_ms"),
        datediff(col("o_orderdate").cast("date"), lit("1994-01-01").cast("date"))
          .cast("long").as("days_since"))
    }),

    // ───── A1 conditional aggregation + min/max
    "q20_conditional_agg" -> ((s, d) => {
      t(s, d, "orders").groupBy(col("o_orderpriority"))
        .agg(
          count(when(col("o_totalprice") > 200000, lit(1))).as("n_big"),
          count(lit(1)).as("n_total"),
          (count(when(col("o_totalprice") > 200000, lit(1))).cast("double") /
            count(lit(1))).as("big_frac"),
          max(col("o_totalprice")).as("max_price"),
          min(col("o_totalprice")).as("min_price"))
    }),

    // ───── O1/O2: global top-k with total tiebreak
    "q21_topk" -> ((s, d) => {
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // ───── K1: upsert merge semantics (updates win; insert-or-update)
    "q22_upsert" -> ((s, d) => {
      val o = t(s, d, "orders")
      val base = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val upd = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit("U").as("o_orderstatus"))
      Upsert.merge(base, upd, Seq("o_orderkey"))
    }),

    // ───── A4/A5: scalar min/max broadcast arithmetic + per-group max
    "q23_scalar_minmax" -> ((s, d) => {
      val ev = t(s, d, "events")
      val g = ev.agg(min(col("value")).as("gmin"))
      ev.crossJoin(broadcast(g))
        .withColumn("user_max", max(col("value")).over(Window.partitionBy(col("user_id"))))
        .select(col("event_id"), col("user_id"),
          (col("user_max") + 1 - col("value")).as("slot"),
          (col("value") - col("gmin")).as("rel"))
    }),

    // ───── G1: grouped collection → explode back to rows (map-of-lists shape)
    "q24_explode_map" -> ((s, d) => {
      t(s, d, "documents").groupBy(col("source"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .select(col("source"), posexplode(col("ids")).as(Seq("pos", "doc_id")))
        .select(col("source"), col("pos").cast("long").as("pos"), col("doc_id"))
    }),

    // ───── G2: struct-returning parser (regex groups → typed struct)
    "q25_struct_parse" -> ((s, d) => {
      val k = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
      t(s, d, "events").select(col("event_id"),
        struct(
          substring(col("event_type"), 1, 1).as("type_initial"),
          when(k === "", lit(null).cast("long")).otherwise(k.cast("long")).as("k"),
          (col("value") > 100).as("is_big")).as("parsed"))
        .select(col("event_id"), col("parsed.type_initial").as("type_initial"),
          col("parsed.k").as("k"), col("parsed.is_big").as("is_big"))
    }),

    // ───── G4: JSON stringify before a sink
    "q26_json_stringify" -> ((s, d) => {
      val k0 = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
      t(s, d, "events")
        .select(col("event_id"),
          when(k0 === "", lit(null).cast("long")).otherwise(k0.cast("long")).as("k"))
        .filter(col("k").isNotNull)
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("k"))).as("js"))
    }),

    // ───── §2.10: tumbling event-time window (same code path batch/stream)
    "q27_tumbling_window" -> ((s, d) => {
      Streams.tumblingAgg(t(s, d, "events"), "ts", "1 hour", Seq("event_type"),
        Seq(count(lit(1)).as("n"),
          (sum(floor(col("value") * 100 + 0.5).cast("long")) / 100.0).as("sum_value")))
    }),

    // ───── §2.10: gap sessionization (stateful event-time op, batch path)
    "q28_sessionize" -> ((s, d) => {
      Streams.sessionize(t(s, d, "events"), "user_id", "ts", 1800,
          tiebreak = Seq(col("event_id")))
        .select(col("event_id"), col("user_id"), col("session_id").cast("long").as("session_id"))
    }),

    // ───── §2.10/S7: high-watermark incremental batch — the reference's
    // "resume from MAX(created_dt)" pull (reddit/reddit_extract.py:86-92):
    // the new batch is everything strictly after the stored watermark
    // (here: the 90th-percentile-ish cutoff derived from the data itself so
    // the query is self-contained and deterministic).
    "q30_watermark_incremental" -> ((s, d) => {
      val ev = t(s, d, "events")
      val wm = ev.filter(col("event_type") === "signup")
        .agg(max(col("ts")).as("wm"))
      Streams.newerThan(ev.crossJoin(broadcast(wm)), "ts", col("wm"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
    }),

    // ───── §2.8 array-slice token surgery (reference drop-last-token
    // `' '.join(x.split(' ')[:-1])`, contestant_extract.py:360)
    "q31_token_slice" -> ((s, d) => {
      val toks = split(col("p_name"), " ")
      t(s, d, "part").select(
        col("p_partkey"),
        array_join(slice(toks, lit(1), greatest(size(toks) - 1, lit(0))), " ")
          .as("dropped_last"),
        array_join(slice(toks, 1, 2), " ").as("first_two"),
        size(toks).cast("long").as("n_tokens"))
    }),

    // ───── semi/anti joins: existence predicates as joins (the engine
    // policy behind A3's "unmatched rows" and K1's anti side)
    "q32_semi_anti" -> ((s, d) => {
      val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"))
      val bigOrders = t(s, d, "orders")
        .filter(col("o_totalprice") > 250000).select(col("o_custkey"))
      val semi = c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .withColumn("tag", lit("has_big_order"))
      val anti = c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .withColumn("tag", lit("no_big_order"))
      semi.unionByName(anti)
    }),

    // ───── bucketed interval join: clicks within 1h before each purchase
    // (attribution window; equi-join on (user, hour-bucket) + exact filter
    // instead of a nested-loop range join)
    "q33_interval_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      graft.ops.RangeJoin.attributionJoin(purchases, clicks, "user_id",
          "ts", "click_ts", lookbackSec = 3600L, payload = Seq("click_id"))
        .select(col("purchase_id"), col("user_id"),
          unix_millis(col("ts")).as("purchase_ts_ms"),
          col("click_id"), unix_millis(col("click_ts")).as("click_ts_ms"))
    }),

    // ───── S3: Excel grid sub-table walk + vote-matrix unpivot
    // (episode_stats_extract.py:137-190 / 107-134). The bronze cell matrix
    // is synthesized deterministically from `nation` and exercises every
    // stop condition: a header gap (col 4 missing → col 5 excluded) and a
    // data-row gap (rows 7-8 missing → row 9 excluded), plus null cells
    // (the unpivot's vote filter).
    "q34_grid_subtable" -> ((s, d) => {
      val n = t(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
      val sheets = n.filter(col("nk") < 2)
      val markers = sheets.select(
        concat(lit("sh"), col("nk").cast("string")).as("sheet"),
        lit(0L).as("row"), lit(1L).as("col"), lit("VOTE_TABLE").as("value"))
      val headers = sheets
        .select(col("nk"), explode(array(lit(1L), lit(2L), lit(3L), lit(5L))).as("hc"))
        .select(concat(lit("sh"), col("nk").cast("string")).as("sheet"),
          lit(1L).as("row"), col("hc").as("col"),
          concat(lit("H"), col("hc").cast("string")).as("value"))
      val dataRows = n.withColumn("r", expr("nk div 2 + 2"))
        .filter(col("r") <= 6 || col("r") === 9)
        .withColumn("sheet", concat(lit("sh"), (col("nk") % 2).cast("string")))
      val anchors = dataRows.select(col("sheet"), col("r").as("row"),
        lit(1L).as("col"), col("n_name").as("value"))
      val v2 = dataRows.filter(col("nk") % 3 =!= 0)
        .select(col("sheet"), col("r").as("row"), lit(2L).as("col"),
          concat(lit("V"), col("nk").cast("string")).as("value"))
      val v3 = dataRows.filter(col("nk") % 3 =!= 1)
        .select(col("sheet"), col("r").as("row"), lit(3L).as("col"),
          concat(lit("W"), col("nk").cast("string")).as("value"))
      val v5 = dataRows.select(col("sheet"), col("r").as("row"),
        lit(5L).as("col"), lit("X").as("value"))
      val cells = markers.unionByName(headers).unionByName(anchors)
        .unionByName(v2).unionByName(v3).unionByName(v5)
      graft.sources.GridTables
        .unpivotVoteMatrix(graft.sources.GridTables.subtableAt(cells, "^VOTE_TABLE$"))
        .select(col("sheet"), col("marker"),
          col("table_row").cast("long").as("table_row"),
          col("voted_for"), col("vote_counted"))
    }),

    // ───── S5: the docx confessional state machine
    // (confessional_extract.py:26-47) over synthesized numbered lines:
    // every 5th line is a `Day N` marker (carried forward, W4), the rest
    // are `Name (i/total): text` rows (regex bank + per-doc counter)
    "q35_docx_confessional" -> ((s, d) => {
      val c = t(s, d, "customer").filter(col("c_custkey") <= 200)
      val lines = c.select(
        (col("c_custkey") % 4).as("doc_id"),
        expr("c_custkey div 4").as("line_no"),
        when(col("c_custkey") % 5 === 0,
          concat(lit("Day "), (col("c_custkey") % 40 + 1).cast("string")))
          .otherwise(concat(
            lit("Speaker"), (col("c_custkey") % 7).cast("string"),
            lit(" ("), (col("c_custkey") % 3 + 1).cast("string"),
            lit("/3): reflections on the vote "), col("c_custkey").cast("string")))
          .as("line"))
      graft.domain.Pipelines.parseConfessionalLines(lines)
        .select(col("doc_id"), col("day"), col("speaker"), col("n_from_player"),
          col("total_confessionals_in_episode"),
          col("n_in_episode").cast("long").as("n_in_episode"), col("content"))
    }),

    // ───── S4: the Google-Sheets export PLANNER
    // (episode_stats_extract.py:15-66) — catalog-page HTML synthesized
    // from `nation`, exercising every reference branch: the href-less
    // first anchor (KeyError skip, nk%7), the non-spreadsheet href
    // (substring-test skip, nk%5), a non-cast <ul> that must not match,
    // and the char-exact readable-name pipeline (lower, -/space → _,
    // drop :., drop newlines, drop the [1:] leading char)
    "q39_sheets_export_plan" -> ((s, d) => {
      val n = t(s, d, "nation")
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
      val pages = n.select(col("nk"), concat(
        lit("<html><ul class=\"cast\">\n <a "),
        when(col("nk") % 7 === 0, lit("name=\"nohref\""))
          .otherwise(concat(lit("href=\""),
            when(col("nk") % 5 === 0,
              concat(lit("https://example.com/blog/post"),
                col("nk").cast("string"), lit("/")))
              .otherwise(concat(
                lit("https://docs.google.com/spreadsheets/d/SHEET"),
                col("nk").cast("string"), lit("/"))),
            lit("\""))),
        lit(">S"), col("nk").cast("string"), lit(": "), col("n_name"),
        lit(" vs. the-Fans</a></ul>"),
        lit("<ul class=\"other\"><a href=\"https://docs.google.com/" +
          "spreadsheets/d/NOPE/\">x</a></ul></html>")).as("html"))
      graft.sources.SyncPlan.sheetsExportPlan(pages, "html")
        .select(col("nk"), col("readable_name"), col("sheet_id"),
          col("export_url"), col("dest_file"))
    }),

    // ───── S6: the Drive-sync decision PLANNER
    // (confessional_extract.py:151-168) — remote listing and local
    // inventory synthesized from `orders`: ok%3=0 missing locally
    // (download), ok%3=1 local five days stale (overwrite), ok%3=2
    // local mtime equal (skip — the reference compares STRICTLY)
    "q40_drive_sync_plan" -> ((s, d) => {
      val o = t(s, d, "orders").filter(col("o_orderkey") < 300)
        .select(col("o_orderkey").cast("long").as("ok"),
          col("o_orderdate").cast("timestamp").as("od"))
      val remote = o.select(
        concat(lit("season_"), (col("ok") % 5).cast("string")).as("folder"),
        concat(lit("ep_"), col("ok").cast("string")).as("title"),
        col("od").as("modified"))
      val local = o.filter(col("ok") % 3 =!= 0).select(
        concat(lit("season_"), (col("ok") % 5).cast("string")).as("folder"),
        concat(lit("ep_"), col("ok").cast("string"), lit(".docx"))
          .as("file_name"),
        when(col("ok") % 3 === 1, col("od") - expr("INTERVAL 5 DAYS"))
          .otherwise(col("od")).as("mtime"))
      graft.sources.SyncPlan.driveSyncPlan(
          remote, "folder", "title", "modified",
          local, "folder", "file_name", "mtime")
        .select(col("folder"), col("title"), col("dest_file"),
          unix_millis(col("modified")).as("modified_ms"),
          unix_millis(col("mtime")).as("mtime_ms"), col("action"))
    }),

    // ───── P4: seasons still in flight as of a watermark
    // (helpers/extract_helpers.py:7-57 currently-running test)
    "q36_active_seasons" -> ((s, d) => {
      val seasons = t(s, d, "orders").select(
        col("o_orderkey").as("season_id"),
        when(col("o_orderkey") % 13 === 0, lit(null).cast("timestamp"))
          .otherwise(col("o_orderdate")).as("showing_started"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("timestamp"))
          .otherwise(col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("showing_ended"))
      graft.domain.Pipelines
        .activeSeasons(seasons, lit("1995-06-01 00:00:00").cast("timestamp"))
        .select(col("season_id"),
          unix_millis(col("showing_started")).as("started_ms"),
          unix_millis(col("showing_ended")).as("ended_ms"))
    }),

    // ───── robust JSON ingestion with quarantine (reference reddit pull:
    // API fields churn, payloads go malformed — bad records must divert,
    // never kill the batch). Every 7th record is corrupted to exercise
    // the parse-failure path; records whose declared fields are all null
    // quarantine too (the "schema is authority" stance at parse time)
    "q38_json_ingest" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"),
        when(col("event_id") % 7 === 0, concat(lit("{broken"), col("props")))
          .otherwise(col("props")).as("props"))
      // a quarantined record's fields are all null, so `k` needs no mask
      graft.sources.JsonIngest.tagged(ev, "props", StructType(Seq(StructField("k", LongType))))
        .select(col("event_id"), col("k"),
          when(col("quarantined"), "quarantined").otherwise("good").as("status"))
    }),

    // ───── domain flagship: the reference's pull_agg_contestant_stats
    // (helpers/db_funcs.py:4-45) end-to-end, with the survivor tables
    // deterministically synthesized from the TPC-H-ish star schema
    // (customer→contestant/contestant_season, orders→episode stats,
    // lineitem→votes/immunity). All summed measures are integer-valued or
    // quarter-valued doubles, so parallel double sums stay exact.
    "q29_contestant_stats" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val cs = cust.select(
        col("c_custkey").as("contestant_season_id"),
        col("c_custkey").as("contestant_id"),
        col("c_nationkey").cast("long").as("season_id"))
      val c = cust.select(
        col("c_custkey").as("contestant_id"),
        element_at(split(col("c_name"), "#"), 1).as("first_name"),
        col("c_mktsegment").as("last_name"))
      val eps = t(s, d, "orders").select(
        col("o_custkey").as("contestant_id"),
        col("o_orderkey").as("episode_id"),
        (col("o_orderkey") % 7).cast("double").as("number_of_days_spent_in_episode"),
        when(col("o_orderkey") % 11 === 0, 1.0).otherwise(0.0).as("number_of_jury_votes"))
      val li = t(s, d, "lineitem")
      val vote = li.select(
        (col("l_partkey") % 1500 + 1).as("contestant_id"),
        (col("l_orderkey") % 1500 + 1).as("voted_for_id"))
      val ic = li.select(
        (col("l_partkey") % 1500 + 1).as("contestant_id"),
        (col("l_linenumber") % 2).cast("double").as("team"),
        ((col("l_partkey") % 4).cast("double") * 0.25).as("win_pct"))
      graft.domain.ContestantStats
        .pullAggContestantStats(eps, cs, c, vote, ic)
    }))

  val oracle: Map[String, String] = Map(
    "q37_mapping_chain" -> {
      val values = nameMapEntries
        .map { case (f, t) => s"('${f}', '${t}')" }.mkString(", ")
      s"""WITH m(dirty, canonical) AS (VALUES $values),
        chained AS (SELECT c_custkey,
          regexp_replace(regexp_replace(c_name, 'Customer#', 'C', 'g'),
            '^C0+', 'c', 'g') AS name
          FROM customer)
        SELECT c_custkey, COALESCE(m.canonical, chained.name) AS name
        FROM chained LEFT JOIN m ON chained.name = m.dirty"""
    },
    "q01_agg_pricing" ->
      """WITH c AS (SELECT l_returnflag, l_linestatus,
          CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty_c,
          CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
          CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_c
          FROM lineitem)
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(qty_c) AS BIGINT) / 100.0 AS sum_qty,
          CAST(SUM(price_c) AS BIGINT) / 100.0 AS sum_base_price,
          CAST(SUM(price_c * (100 - disc_c)) AS BIGINT) / 10000.0 AS sum_disc_price,
          (CAST(SUM(qty_c) AS BIGINT) / 100.0) / COUNT(*) AS avg_qty,
          COUNT(*) AS count_order
        FROM c GROUP BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
        CAST(round(value * 100, 0) AS BIGINT) AS value_cents
        FROM events WHERE value IS NOT NULL AND event_type = 'purchase' AND value > 50""",
    "q03_agg_join_rank" ->
      """WITH ord AS (SELECT o_custkey, COUNT(*) AS n_orders,
          CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS total_spent
          FROM orders GROUP BY o_custkey),
        li AS (SELECT o_custkey,
          CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS total_qty
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_custkey)
        SELECT c_custkey, c_name, n_name,
          COALESCE(n_orders, 0) AS n_orders,
          COALESCE(total_spent, -1.0) AS total_spent,
          COALESCE(total_qty, -1.0) AS total_qty,
          ROW_NUMBER() OVER (PARTITION BY n_name
            ORDER BY COALESCE(total_spent, -1.0) DESC, c_custkey) AS spend_rank
        FROM customer
        LEFT JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN ord ON c_custkey = ord.o_custkey
        LEFT JOIN li ON c_custkey = li.o_custkey""",
    "q04_window_rank" ->
      """SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment,
        ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
        RANK() OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment) AS seg_rank,
        DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment) AS seg_dense
        FROM customer""",
    "q05_star_join" ->
      """SELECT r_name, p_brand, COUNT(*) AS n_items,
        CAST(SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
        CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, p_brand""",
    "q06_asof_join" ->
      """SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
        c.value AS click_value, epoch_ms(c.ts) AS click_ts_ms
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "q07_window_running" ->
      """SELECT event_id, user_id,
        CAST(floor(last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5) AS BIGINT) AS filled_cents,
        CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_sum_cents
        FROM events""",
    "q08_dedup_keys" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        QUALIFY ROW_NUMBER() OVER (PARTITION BY l_orderkey
          ORDER BY l_linenumber, l_quantity, l_extendedprice) = 1""",
    "q09_fuzzy_two_stage" ->
      """WITH s1 AS (SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_nationkey
          FROM orders o LEFT JOIN customer c
          ON (CASE WHEN o.o_orderkey % 5 <> 0 THEN o.o_custkey END) = c.c_custkey)
        SELECT o_orderkey, o_custkey, c_name, c_nationkey FROM s1 WHERE c_name IS NOT NULL
        UNION ALL
        SELECT s1.o_orderkey, s1.o_custkey, c2.c_name, c2.c_nationkey
        FROM s1 LEFT JOIN customer c2 ON (s1.o_custkey % 50) + 1 = c2.c_custkey
        WHERE s1.c_name IS NULL""",
    "q10_conform_schema" ->
      """SELECT o_orderkey, CAST(o_custkey AS INTEGER) AS o_custkey,
        CAST(o_orderdate AS DATE) AS o_orderdate, CAST(NULL AS VARCHAR) AS o_comment
        FROM orders""",
    "q11_union_reconcile" ->
      """SELECT c_custkey AS entity_id, c_name AS name, c_acctbal AS acctbal,
          'customer' AS src, CAST(NULL AS INTEGER) AS nationkey FROM customer
        UNION ALL
        SELECT s_suppkey, s_name, CAST(NULL AS DOUBLE), 'supplier',
          CAST(s_nationkey AS INTEGER) FROM supplier""",
    "q12_unpivot" ->
      """SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'retail' AS attr, p_retailprice AS val FROM part""",
    "q13_explode_distinct" ->
      """SELECT DISTINCT word FROM
        (SELECT unnest(string_split(p_name, ' ')) AS word FROM part) WHERE word <> ''""",
    "q14_fixed_width" ->
      """WITH l AS (SELECT n_regionkey, list(n_name ORDER BY n_name) AS arr
          FROM nation GROUP BY n_regionkey)
        SELECT n_regionkey, arr[1] AS nation_0, arr[2] AS nation_1, arr[3] AS nation_2,
          arr[4] AS nation_3, arr[5] AS nation_4, arr[6] AS nation_5 FROM l""",
    "q15_id_allocation" ->
      """WITH base AS (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey END AS cid,
          c_custkey AS natural_key, c_name FROM customer),
        mx AS (SELECT MAX(cid) AS m FROM base)
        SELECT cid, natural_key, c_name FROM base WHERE cid IS NOT NULL
        UNION ALL
        SELECT m + ROW_NUMBER() OVER (ORDER BY natural_key), natural_key, c_name
        FROM base, mx WHERE cid IS NULL""",
    "q16_null_default" ->
      """SELECT event_id,
        COALESCE(CASE WHEN ts <= TIMESTAMP '2024-03-01 00:00:00' THEN value END, -1.0)
          AS value_or_default FROM events""",
    "q17_regex_extract" ->
      """SELECT event_id,
        TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k FROM events""",
    "q18_string_funcs" ->
      """SELECT c_custkey, lower(c_name) AS lname,
        lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS padded,
        concat_ws('|', c_mktsegment, c_name) AS joined,
        string_split(c_name, '#')[1] AS first_token,
        regexp_replace(c_name, 'Customer', 'CUST', 'g') AS renamed
        FROM customer""",
    "q19_date_funcs" ->
      """SELECT o_orderkey,
        EXTRACT(YEAR FROM o_orderdate) AS yr,
        EXTRACT(MONTH FROM o_orderdate) AS mo,
        epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms,
        date_diff('day', DATE '1994-01-01', CAST(o_orderdate AS DATE)) AS days_since
        FROM orders""",
    "q20_conditional_agg" ->
      """SELECT o_orderpriority,
        COUNT(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_big,
        COUNT(*) AS n_total,
        CAST(COUNT(CASE WHEN o_totalprice > 200000 THEN 1 END) AS DOUBLE) / COUNT(*) AS big_frac,
        MAX(o_totalprice) AS max_price,
        MIN(o_totalprice) AS min_price
        FROM orders GROUP BY o_orderpriority""",
    "q21_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q22_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
          WHERE o_orderkey % 2 = 0),
        upd AS (SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
          'U' AS o_orderstatus FROM orders WHERE o_orderkey % 3 = 0)
        SELECT b.* FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = b.o_orderkey)
        UNION ALL SELECT * FROM upd""",
    "q23_scalar_minmax" ->
      """SELECT event_id, user_id,
        MAX(value) OVER (PARTITION BY user_id) + 1 - value AS slot,
        value - (SELECT MIN(value) FROM events) AS rel
        FROM events""",
    "q24_explode_map" ->
      """SELECT source, ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS pos,
        doc_id FROM documents""",
    "q25_struct_parse" ->
      """SELECT event_id, substr(event_type, 1, 1) AS type_initial,
        TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k,
        value > 100 AS is_big
        FROM events""",
    "q26_json_stringify" ->
      """SELECT event_id, '{"event_id":' || event_id || ',"k":' || k || '}' AS js
        FROM (SELECT event_id, TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
              FROM events) WHERE k IS NOT NULL""",
    "q27_tumbling_window" ->
      """SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value,
        CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start
        FROM events GROUP BY event_type, date_trunc('hour', ts)""",
    "q30_watermark_incremental" ->
      """SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
        WHERE ts > (SELECT MAX(ts) FROM events WHERE event_type = 'signup')""",
    "q32_semi_anti" ->
      """SELECT c_custkey, c_name, 'has_big_order' AS tag FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        UNION ALL
        SELECT c_custkey, c_name, 'no_big_order' AS tag FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 250000)""",
    "q33_interval_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, epoch_ms(p.ts) AS purchase_ts_ms,
        c.event_id AS click_id, epoch_ms(c.ts) AS click_ts_ms
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
          AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts""",
    "q31_token_slice" ->
      """SELECT p_partkey,
        array_to_string(list_slice(string_split(p_name, ' '), 1,
          greatest(len(string_split(p_name, ' ')) - 1, 0)), ' ') AS dropped_last,
        array_to_string(list_slice(string_split(p_name, ' '), 1, 2), ' ') AS first_two,
        CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_tokens
        FROM part""",
    "q29_contestant_stats" ->
      """WITH cs AS (SELECT c_custkey AS contestant_season_id, c_custkey AS contestant_id,
          CAST(c_nationkey AS BIGINT) AS season_id FROM customer),
        con AS (SELECT c_custkey AS contestant_id, string_split(c_name, '#')[1] AS first_name,
          c_mktsegment AS last_name FROM customer),
        eps AS (SELECT o_custkey AS contestant_id, o_orderkey AS episode_id,
          CAST(o_orderkey % 7 AS DOUBLE) AS ndays_ep,
          CASE WHEN o_orderkey % 11 = 0 THEN 1.0 ELSE 0.0 END AS jury_ep FROM orders),
        vt AS (SELECT (l_partkey % 1500 + 1) AS contestant_id,
          (l_orderkey % 1500 + 1) AS voted_for_id FROM lineitem),
        ic AS (SELECT (l_partkey % 1500 + 1) AS contestant_id,
          CAST(l_linenumber % 2 AS DOUBLE) AS team,
          CAST(l_partkey % 4 AS DOUBLE) * 0.25 AS win_pct FROM lineitem),
        perc AS (SELECT contestant_id, SUM(ndays_ep) AS ndays,
          COALESCE(SUM(jury_ep), -1.0) AS njury FROM eps GROUP BY contestant_id),
        ranked AS (SELECT cs.contestant_season_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY cs.season_id
            ORDER BY njury DESC NULLS LAST, ndays DESC NULLS LAST,
              cs.contestant_season_id) AS BIGINT) AS placement
          FROM cs LEFT JOIN perc e ON cs.contestant_season_id = e.contestant_id),
        v AS (SELECT voted_for_id, COUNT(*) AS votes_against,
          CAST(SUM(CASE WHEN voted_for_id = contestant_id THEN 1 ELSE 0 END) > 0
            AS INTEGER) AS medevac_quit FROM vt GROUP BY voted_for_id),
        icag AS (SELECT contestant_id, SUM(win_pct) AS individual_wins
          FROM ic WHERE team = 1 GROUP BY contestant_id)
        SELECT cs.contestant_season_id, con.first_name, con.last_name, cs.season_id,
          SUM(eps.ndays_ep) AS days_lasted,
          MAX(v.medevac_quit) AS quit,
          MAX(v.medevac_quit) AS med_evac,
          MAX(v.votes_against) AS votes_against,
          MAX(icag.individual_wins) AS individual_wins,
          MAX(ranked.placement) AS placement
        FROM eps
        LEFT JOIN cs ON cs.contestant_season_id = eps.contestant_id
        LEFT JOIN con ON cs.contestant_id = con.contestant_id
        LEFT JOIN v ON eps.contestant_id = v.voted_for_id
        LEFT JOIN icag ON icag.contestant_id = eps.contestant_id
        LEFT JOIN ranked ON ranked.contestant_season_id = eps.contestant_id
        GROUP BY cs.contestant_season_id, con.first_name, con.last_name, cs.season_id""",
    "q34_grid_subtable" ->
      """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name FROM nation),
        cells AS (
          SELECT 'sh' || CAST(nk AS VARCHAR) AS sheet, CAST(0 AS BIGINT) AS rw,
            CAST(1 AS BIGINT) AS cl, 'VOTE_TABLE' AS val FROM n WHERE nk < 2
          UNION ALL
          SELECT 'sh' || CAST(nk AS VARCHAR), 1, c.cl, 'H' || CAST(c.cl AS VARCHAR)
          FROM n, (VALUES (CAST(1 AS BIGINT)), (CAST(2 AS BIGINT)),
            (CAST(3 AS BIGINT)), (CAST(5 AS BIGINT))) c(cl) WHERE nk < 2
          UNION ALL
          SELECT 'sh' || CAST(nk % 2 AS VARCHAR), nk // 2 + 2, 1, n_name FROM n
          WHERE nk // 2 + 2 <= 6 OR nk // 2 + 2 = 9
          UNION ALL
          SELECT 'sh' || CAST(nk % 2 AS VARCHAR), nk // 2 + 2, 2, 'V' || CAST(nk AS VARCHAR)
          FROM n WHERE (nk // 2 + 2 <= 6 OR nk // 2 + 2 = 9) AND nk % 3 <> 0
          UNION ALL
          SELECT 'sh' || CAST(nk % 2 AS VARCHAR), nk // 2 + 2, 3, 'W' || CAST(nk AS VARCHAR)
          FROM n WHERE (nk // 2 + 2 <= 6 OR nk // 2 + 2 = 9) AND nk % 3 <> 1
          UNION ALL
          SELECT 'sh' || CAST(nk % 2 AS VARCHAR), nk // 2 + 2, 5, 'X' FROM n
          WHERE nk // 2 + 2 <= 6 OR nk // 2 + 2 = 9),
        markers AS (SELECT sheet, rw AS m_row, cl AS m_col, val AS marker FROM cells
          WHERE regexp_matches(val, '^VOTE_TABLE$')),
        hdr AS (SELECT c.sheet, m.m_row, m.m_col, m.marker, c.cl AS h_col, c.val AS header
          FROM cells c JOIN markers m
          ON c.sheet = m.sheet AND c.rw = m.m_row + 1 AND c.cl >= m.m_col),
        contiguous AS (SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY sheet, m_row, m_col
              ORDER BY h_col) AS rk FROM hdr)
          WHERE h_col - m_col = rk - 1),
        anchor AS (SELECT c.sheet, m.m_row, m.m_col, c.rw AS d_row
          FROM cells c JOIN markers m
          ON c.sheet = m.sheet AND c.cl = m.m_col AND c.rw > m.m_row + 1),
        trows AS (SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY sheet, m_row, m_col
              ORDER BY d_row) AS rk FROM anchor)
          WHERE d_row - (m_row + 1) = rk)
        SELECT tr.sheet, h.marker, tr.rk AS table_row, h.header AS voted_for,
          TRUE AS vote_counted
        FROM trows tr
        JOIN contiguous h
          ON tr.sheet = h.sheet AND tr.m_row = h.m_row AND tr.m_col = h.m_col
        JOIN cells v
          ON v.sheet = tr.sheet AND v.rw = tr.d_row AND v.cl = h.h_col""",
    "q35_docx_confessional" ->
      """WITH lines AS (SELECT c_custkey % 4 AS doc_id, c_custkey // 4 AS line_no,
          CASE WHEN c_custkey % 5 = 0 THEN 'Day ' || CAST(c_custkey % 40 + 1 AS VARCHAR)
               ELSE 'Speaker' || CAST(c_custkey % 7 AS VARCHAR) || ' (' ||
                 CAST(c_custkey % 3 + 1 AS VARCHAR) ||
                 '/3): reflections on the vote ' || CAST(c_custkey AS VARCHAR)
          END AS line
          FROM customer WHERE c_custkey <= 200),
        marked AS (SELECT *, CASE WHEN regexp_matches(line, '^Day (\d+)$')
            THEN CAST(regexp_extract(line, '^Day (\d+)$', 1) AS INT) END AS day_mark
          FROM lines),
        carried AS (SELECT *, last_value(day_mark IGNORE NULLS) OVER
            (PARTITION BY doc_id ORDER BY line_no
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day
          FROM marked),
        parsed AS (SELECT doc_id, line_no, day,
            regexp_extract(line, '^(\w+ ?\w*) \((\d+)/(\d+)\): (.*)$', 1) AS speaker,
            TRY_CAST(regexp_extract(line, '^(\w+ ?\w*) \((\d+)/(\d+)\): (.*)$', 2) AS INT)
              AS n_from_player,
            TRY_CAST(regexp_extract(line, '^(\w+ ?\w*) \((\d+)/(\d+)\): (.*)$', 3) AS INT)
              AS total_confessionals_in_episode,
            regexp_extract(line, '^(\w+ ?\w*) \((\d+)/(\d+)\): (.*)$', 4) AS content
          FROM carried)
        SELECT doc_id, day, speaker, n_from_player, total_confessionals_in_episode,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY line_no) AS n_in_episode,
          content
        FROM parsed WHERE speaker <> ''""",
    "q39_sheets_export_plan" ->
      """WITH n AS (SELECT CAST(n_nationkey AS BIGINT) AS nk, n_name FROM nation),
        pages AS (SELECT nk,
          '<html><ul class="cast">' || chr(10) || ' <a ' ||
          CASE WHEN nk % 7 = 0 THEN 'name="nohref"'
               ELSE 'href="' || CASE WHEN nk % 5 = 0
                   THEN 'https://example.com/blog/post' || CAST(nk AS VARCHAR) || '/'
                   ELSE 'https://docs.google.com/spreadsheets/d/SHEET'
                     || CAST(nk AS VARCHAR) || '/' END || '"'
          END || '>S' || CAST(nk AS VARCHAR) || ': ' || n_name
          || ' vs. the-Fans</a></ul>'
          || '<ul class="other"><a href="https://docs.google.com/spreadsheets/d/NOPE/">x</a></ul></html>'
          AS html FROM n),
        blocks AS (SELECT nk, unnest(regexp_extract_all(html,
            '(?s)<ul class="cast">.*?</ul>', 0)) AS block FROM pages),
        a AS (SELECT nk,
            regexp_extract(regexp_extract(block, '(?s)<a\b[^>]*>', 0),
              '[\s"'']href="([^"]*)"', 1) AS href,
            regexp_replace(block, '(?s)<[^>]*>', '', 'g') AS txt
          FROM blocks),
        b AS (SELECT nk, href,
            substr(replace(replace(replace(replace(replace(replace(
              lower(txt), '-', '_'), ' ', '_'), ':', ''), '.', ''), ',', ''),
              chr(10), ''), 2) AS readable_name
          FROM a WHERE href <> '' AND contains(href, 'spreadsheet')),
        c AS (SELECT nk, readable_name,
            (string_split(substr(href, 1, length(href) - 1), '/'))[-1] AS sheet_id
          FROM b)
        SELECT nk, readable_name, sheet_id,
          'https://docs.google.com/spreadsheets/d/' || sheet_id
            || '/export?format=xlsx&id=' || sheet_id AS export_url,
          readable_name || '.xlsx' AS dest_file
        FROM c""",
    "q40_drive_sync_plan" ->
      """WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS ok,
          CAST(o_orderdate AS TIMESTAMP) AS od FROM orders WHERE o_orderkey < 300),
        remote AS (SELECT 'season_' || CAST(ok % 5 AS VARCHAR) AS folder,
          'ep_' || CAST(ok AS VARCHAR) AS title,
          'ep_' || CAST(ok AS VARCHAR) || '.docx' AS dest_file,
          od AS modified FROM o),
        loc AS (SELECT 'season_' || CAST(ok % 5 AS VARCHAR) AS folder,
          'ep_' || CAST(ok AS VARCHAR) || '.docx' AS dest_file,
          CASE WHEN ok % 3 = 1 THEN od - INTERVAL 5 DAY ELSE od END AS mtime
          FROM o WHERE ok % 3 <> 0)
        SELECT r.folder, r.title, r.dest_file,
          epoch_ms(r.modified) AS modified_ms, epoch_ms(l.mtime) AS mtime_ms,
          CASE WHEN l.mtime IS NULL THEN 'download'
               WHEN r.modified > l.mtime THEN 'overwrite'
               ELSE 'skip' END AS action
        FROM remote r LEFT JOIN loc l
          ON r.folder = l.folder AND r.dest_file = l.dest_file""",
    "q38_json_ingest" ->
      // quarantine requires a NON-NULL raw payload (a null input is not a
      // parse failure — mirrors JsonIngest's `quarantined` flag exactly)
      """WITH ev AS (SELECT event_id,
          CASE WHEN event_id % 7 = 0 THEN '{broken' || props ELSE props END AS props
          FROM events),
        p AS (SELECT event_id, props,
          TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS BIGINT) AS k
          FROM ev)
        SELECT event_id, k, 'good' AS status FROM p
        WHERE k IS NOT NULL OR props IS NULL
        UNION ALL
        SELECT event_id, NULL AS k, 'quarantined' AS status FROM p
        WHERE props IS NOT NULL AND k IS NULL""",
    "q36_active_seasons" ->
      """WITH seasons AS (SELECT o_orderkey AS season_id,
          CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderdate END AS showing_started,
          CASE WHEN o_orderkey % 7 = 0 THEN NULL
               ELSE o_orderdate + INTERVAL 90 DAY END AS showing_ended
          FROM orders)
        SELECT season_id, epoch_ms(showing_started) AS started_ms,
          epoch_ms(showing_ended) AS ended_ms
        FROM seasons
        WHERE showing_started IS NOT NULL
          AND (showing_ended IS NULL OR showing_ended > TIMESTAMP '1995-06-01 00:00:00')""",
    "q28_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, ts,
          CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        g AS (SELECT *, sec - LAG(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap FROM e)
        SELECT event_id, user_id,
          CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM g""")
}
