package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import graft.functions.Builtins._
import Fixtures._

/** Expression-surface and builtin-function gates (SURVEY §2.5,
  * §2.6), including the jar / python / Hive UDF bridges. */
object FunctionGates {

  val all: Seq[Gate] = Seq(
    // bincond / CASE (§2.5): nested when-chains
    Gate("q31_case", (s, d) =>
      T(s, d, "orders").foreach(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000, lit("platinum"))
          .when(col("o_totalprice") > 150000, lit("gold"))
          .otherwise(when(col("o_orderstatus") === "F", lit("done"))
            .otherwise(lit("base"))).as("tier")).df,
      """SELECT o_orderkey,
                CASE WHEN o_totalprice > 300000 THEN 'platinum'
                     WHEN o_totalprice > 150000 THEN 'gold'
                     WHEN o_orderstatus = 'F' THEN 'done'
                     ELSE 'base' END AS tier
         FROM orders"""),

    // bytearray lazy-cast semantics (§1.4): failed cast → null, not error
    Gate("q32_cast_null", (s, d) =>
      T(s, d, "orders").foreach(
        col("o_orderkey"),
        col("o_orderpriority").cast(LongType).as("pr_full"),
        substring(col("o_orderpriority"), 1, 1).cast(LongType).as("pr_code")).df,
      """SELECT o_orderkey, TRY_CAST(o_orderpriority AS BIGINT) AS pr_full,
                TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS pr_code
         FROM orders"""),

    // MATCHES: whole-string regex anchoring (§2.5)
    Gate("q33_matches", (s, d) =>
      T(s, d, "part")
        .foreach(MATCHES(col("p_type"), "PROMO.*").as("is_promo"))
        .groupBy("is_promo" -> col("is_promo"))
        .agg(COUNT_STAR().as("n")).df,
      """SELECT regexp_full_match(p_type, 'PROMO.*') AS is_promo,
                count(*) AS n
         FROM part GROUP BY 1"""),

    // string builtin catalog (§2.6)
    Gate("q34_strings", (s, d) =>
      T(s, d, "customer").foreach(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        lower(col("c_mktsegment")).as("lo"),
        SUBSTRING(col("c_name"), 0, 8).as("sub"),
        concat(col("c_name"), lit("|"), col("c_mktsegment")).as("cat"),
        regexp_replace(col("c_name"), "Customer", "C").as("rep"),
        length(col("c_name")).cast(LongType).as("len"),
        INDEXOF(col("c_name"), "#").cast(LongType).as("idx"),
        STARTSWITH(col("c_name"), "Customer").as("sw"),
        trim(col("c_mktsegment")).as("tr")).df,
      """SELECT c_custkey, upper(c_name) AS up, lower(c_mktsegment) AS lo,
                substring(c_name, 1, 8) AS sub,
                c_name || '|' || c_mktsegment AS cat,
                replace(c_name, 'Customer', 'C') AS rep,
                CAST(length(c_name) AS BIGINT) AS len,
                CAST(strpos(c_name, '#') - 1 AS BIGINT) AS idx,
                starts_with(c_name, 'Customer') AS sw,
                trim(c_mktsegment) AS tr
         FROM customer"""),

    // math builtin catalog (§2.6)
    Gate("q35_math", (s, d) =>
      T(s, d, "part").foreach(
        col("p_partkey"),
        abs(-col("p_size")).cast(LongType).as("abs_sz"),
        ceil(col("p_retailprice")).as("ce"),
        floor(col("p_retailprice")).as("fl"),
        ROUND_TO(col("p_retailprice"), 1).as("rnd"),
        round(sqrt(col("p_retailprice")), 6).as("sq"),
        round(log(col("p_retailprice")), 6).as("ln"),
        (col("p_size") % 7).cast(LongType).as("md")).df,
      """SELECT p_partkey, CAST(abs(-p_size) AS BIGINT) AS abs_sz,
                CAST(ceil(p_retailprice) AS BIGINT) AS ce,
                CAST(floor(p_retailprice) AS BIGINT) AS fl,
                round(p_retailprice, 1) AS rnd,
                round(sqrt(p_retailprice), 6) AS sq,
                round(ln(p_retailprice), 6) AS ln,
                CAST(p_size % 7 AS BIGINT) AS md
         FROM part"""),

    // datetime builtin catalog (§2.6): field extraction + duration math +
    // the joda *Between family (millis diff, truncation toward zero)
    Gate("q36_datetime", (s, d) => {
      val ref = lit("1995-07-15 12:30:00").cast(TimestampType)
      T(s, d, "orders").foreach(
        col("o_orderkey"),
        GetYear(col("o_orderdate")).cast(LongType).as("yr"),
        GetMonth(col("o_orderdate")).cast(LongType).as("mo"),
        GetDay(col("o_orderdate")).cast(LongType).as("dy"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast(DateType))
          .cast(LongType).as("days_since"),
        AddDuration(col("o_orderdate"), "P1D").as("next_day"),
        SecondsBetween(col("o_orderdate"), ref).as("sec_ref"),
        HoursBetween(col("o_orderdate"), ref).as("hrs_ref"),
        DaysBetween(col("o_orderdate"), ref).as("days_ref"),
        WeeksBetween(col("o_orderdate"), ref).as("wks_ref"),
        MilliSecondsBetween(col("o_orderdate"), ref).as("ms_ref")).df
    },
      """SELECT o_orderkey,
                CAST(year(o_orderdate) AS BIGINT) AS yr,
                CAST(month(o_orderdate) AS BIGINT) AS mo,
                CAST(day(o_orderdate) AS BIGINT) AS dy,
                CAST(date_diff('day', DATE '1995-01-01',
                               CAST(o_orderdate AS DATE)) AS BIGINT)
                  AS days_since,
                o_orderdate + INTERVAL 1 DAY AS next_day,
                CAST(trunc(msd / 1000.0) AS BIGINT) AS sec_ref,
                CAST(trunc(msd / 3600000.0) AS BIGINT) AS hrs_ref,
                CAST(trunc(msd / 86400000.0) AS BIGINT) AS days_ref,
                CAST(trunc(msd / 604800000.0) AS BIGINT) AS wks_ref,
                msd AS ms_ref
         FROM (SELECT *,
                 epoch_ms(CAST(o_orderdate AS TIMESTAMP))
                   - epoch_ms(TIMESTAMP '1995-07-15 12:30:00') AS msd
               FROM orders)"""),

    // TOKENIZE + FLATTEN wordcount (§2.6 TOKENIZE; the canonical Pig demo)
    Gate("q37_tokenize", (s, d) =>
      T(s, d, "documents")
        .foreach(explode(TOKENIZE(col("text"))).as("word"))
        .groupBy("word" -> col("word"))
        .agg(COUNT_STAR().as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20).df,
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split_regex(text, '[ ",()*]')) AS word
           FROM documents)
         WHERE length(word) > 0
         GROUP BY word ORDER BY n DESC, word LIMIT 20"""),

    // map type + lookup m#'k' (§2.5): JSON props → map → element_at
    Gate("q38_map_lookup", (s, d) =>
      T(s, d, "events").foreach(
        col("event_id"),
        element_at(from_json(col("props"),
          MapType(StringType, LongType)), "k").as("k_val")).df,
      """SELECT event_id,
                CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k_val
         FROM events"""),

    // sessionization over events: window lag + gap>30min session breaks
    Gate("q39_sessionize", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      T(s, d, "events")
        .foreach(col("user_id"), col("ts"), col("event_id"))
        .foreach(col("user_id"),
          when(unix_timestamp(col("ts")) -
               unix_timestamp(lag(col("ts"), 1).over(w)) > 1800 ||
               lag(col("ts"), 1).over(w).isNull, 1L).otherwise(0L)
            .as("is_new"))
        .groupBy("user_id" -> col("user_id"))
        .agg(sum(col("is_new")).as("n_sessions"),
             COUNT_STAR().as("n_events")).df
    },
      """SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions,
                count(*) AS n_events
         FROM (
           SELECT user_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 1800
                       THEN 1 ELSE 0 END AS is_new
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         GROUP BY user_id"""),

    // tumbling time-window aggregation over events (batch twin of the
    // Structured Streaming surface in graft.streaming)
    Gate("q40_time_window", (s, d) =>
      T(s, d, "events")
        .groupBy("hour" -> date_trunc("hour", col("ts")),
                 "event_type" -> col("event_type"))
        .agg(COUNT_STAR().as("n"),
             round(SUM(col("value")), 2).as("sum_value")).df,
      """SELECT date_trunc('hour', ts) AS hour, event_type,
                count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2"""),

    // explicit skew mitigation (Pig skewed join / PartitionSkewedKeys):
    // salted join (hot key spread over 8 reducers, right replicated 8x)
    // feeding a two-phase salted aggregation (3 hot group keys). The
    // salt changes DISTRIBUTION only — the oracle pins that the result
    // is identical to the unsalted plan
    // 128-bit simhash near-dups — the scale path past the 64-bit
    // variant's banding ceiling; gated against the exact quadratic twin
    // (4×32-bit bands make hamming<=3 recall EXACTLY 1.0 by pigeonhole
    // when no bucket overflows, and precision is exact by construction)
    Gate("q78_simhash128", (s, d) => {
      val sigs = graft.GraftSession.trackPersist(
        graft.text.Dedup.simhash128(T(s, d, "documents").df,
          "doc_id", "text"))
      val found = graft.GraftSession.trackPersist(
        graft.text.Dedup.simhashNearDups128(sigs, "doc_id",
          maxDistance = 3))
      val exact = graft.GraftSession.trackPersist(
        graft.text.Dedup.exactHamming128Pairs(sigs, "doc_id", 3))
      val aggE = exact.join(
          found.select(col("id_a"), col("id_b"), lit(1L).as("fnd")),
          Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_exact"),
          coalesce(sum(col("fnd")), lit(0L)).as("n_hit"))
      val aggF = found.agg(count(lit(1)).as("n_found"))
      sigs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(aggE).crossJoin(aggF).select(
          col("n_docs"),
          (col("n_hit") === col("n_exact")).as("recall_ok"),
          (col("n_found") === col("n_hit")).as("precision_ok"))
    },
      // simhash128 is not DuckDB-expressible: pin the n_docs anchor and
      // the Spark-side exact-twin verdicts (q44 pattern)
      """SELECT count(*) AS n_docs, true AS recall_ok,
                true AS precision_ok
         FROM documents""",
      bench = Some((s, d) =>
        graft.text.Dedup.simhashNearDups128(
          graft.text.Dedup.simhash128(T(s, d, "documents").df,
            "doc_id", "text"),
          "doc_id", maxDistance = 3))),

    Gate("q77_salted_skew", (s, d) => {
      val li = T(s, d, "lineitem").df
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      val ord = T(s, d, "orders").df
        .select(col("o_orderkey"), col("o_orderpriority"))
      val j = graft.operators.Skew.saltedJoin(li, ord, Seq("o_orderkey"),
        numSalts = 8)
      graft.operators.Skew.saltedAggregate(j, Seq("o_orderpriority"),
        numSalts = 8,
        Seq(("sum_qty", sum(col("l_quantity")), (c: Column) => sum(c)),
            ("n", count(lit(1)), (c: Column) => sum(c).cast(LongType))))
    },
      """SELECT o_orderpriority, sum(l_quantity) AS sum_qty,
                count(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority"""),

    // batch twin of Streams.intervalJoin (the watermarked stream-stream
    // interval join): view→purchase pairs per user within 10 minutes.
    // Runs the PRODUCTION helper itself — withWatermark is a no-op on a
    // batch DataFrame, so this pins the join condition the streaming
    // path uses (state-droppable event-time bound + equality keys)
    Gate("q75_interval_join", (s, d) => {
      // events is loaded TWICE so the two sides carry distinct attribute
      // ids — a single shared scan would make l("user_id")===r("user_id")
      // self-resolve to one attribute and collapse the key condition
      val views = T(s, d, "events").df
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"))
      val buys = T(s, d, "events").df
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("buy_ts"))
      graft.streaming.Streams
        .intervalJoin(views, "view_ts", buys, "buy_ts",
                      Seq("user_id"), "10 minutes", "1 hour")
        .groupBy(views("user_id").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    },
      """SELECT v.user_id, count(*) AS n_pairs
         FROM (SELECT user_id, ts AS view_ts FROM events
               WHERE event_type = 'view') v
         JOIN (SELECT user_id, ts AS buy_ts FROM events
               WHERE event_type = 'purchase') b
           ON v.user_id = b.user_id
          AND b.buy_ts >= v.view_ts
          AND b.buy_ts <= v.view_ts + INTERVAL 10 MINUTE
         GROUP BY v.user_id"""),

    // APPROX_DISTINCT bonus aggregate (SURVEY §2.3) through the frontend
    // fused-agg path (HLL++ sketch, partial-aggregated): verdict-gated
    // against the exact distinct count at 3× the default rsd (0.05 is a
    // standard DEVIATION, not a bound — a 5% verdict fails ~1/3 of
    // groups by design). HLL is deterministic for a given input, so the
    // 15% bound is a stable pass/fail; n_exact hash-pins the group
    // cardinalities
    Gate("q76_approx_distinct", (s, d) => {
      GraftSession.tune(s)
      val approx = graft.frontend.PigRunner(s).run(s"""
        o = LOAD '$d/orders.parquet';
        g = GROUP o BY o_orderpriority;
        a = FOREACH g GENERATE group AS prio,
              APPROX_DISTINCT(o.o_custkey) AS nd;
      """).apply("a").df
      val exact = T(s, d, "orders").df
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      approx.join(exact, "prio")
        .select(col("prio"), col("n_exact"),
          (abs(col("nd") - col("n_exact")) <=
            greatest(lit(1.0), col("n_exact") * 0.15)).as("approx_ok"))
    },
      """SELECT o_orderpriority AS prio,
                count(DISTINCT o_custkey) AS n_exact,
                true AS approx_ok
         FROM orders GROUP BY o_orderpriority"""),

    // piggybank evaluation functions end-to-end through the frontend
    // (DEFINE with full package names, exactly as reference users write
    // them): Reverse/LENGTH/Stuff/Decode/IsNumeric — all codegen Column
    // work, oracle-checked per row
    Gate("q82_piggybank", (s, d) => {
      GraftSession.tune(s)
      graft.frontend.PigRunner(s).run(s"""
        DEFINE Rev org.apache.pig.piggybank.evaluation.string.Reverse();
        DEFINE Len org.apache.pig.piggybank.evaluation.string.LENGTH();
        DEFINE St  org.apache.pig.piggybank.evaluation.string.Stuff();
        DEFINE Dec org.apache.pig.piggybank.evaluation.decode.Decode();
        DEFINE IsN org.apache.pig.piggybank.evaluation.IsNumeric();
        c = LOAD '$d/customer.parquet';
        p = FOREACH c GENERATE c_custkey,
              Rev(c_name) AS rev_name,
              (long)Len(c_name) AS n_name,
              St(c_mktsegment, 0, 2, 'XX') AS stuffed,
              Dec(c_mktsegment, 'BUILDING', 'b', 'AUTOMOBILE', 'a', 'o')
                AS seg_code,
              IsN((chararray)c_nationkey) AS nk_numeric;
      """).apply("p").df
    },
      // mirrors the piggybank Java semantics: Stuff deletes 2 chars at
      // 0-based index 0 and inserts 'XX'; Decode is first-match-else-
      // default; IsNumeric is the reference's regex after one leading '-'
      """SELECT c_custkey, reverse(c_name) AS rev_name,
                length(c_name) AS n_name,
                'XX' || substring(c_mktsegment, 3) AS stuffed,
                CASE c_mktsegment WHEN 'BUILDING' THEN 'b'
                     WHEN 'AUTOMOBILE' THEN 'a' ELSE 'o' END AS seg_code,
                regexp_matches(CAST(c_nationkey AS VARCHAR),
                               '^-?\d+(\.\d+)?$') AS nk_numeric
         FROM customer"""),

    // Invoke* reflection UDFs end-to-end through the frontend: an
    // instance-method call (receiver as first arg) and a 2-arg static —
    // reference Invoker.java semantics, here resolved once per JVM
    Gate("q72_invoke", (s, d) => {
      GraftSession.tune(s)
      graft.frontend.PigRunner(s).run(s"""
        DEFINE Lo InvokeForString('java.lang.String.toLowerCase', '', 'false');
        DEFINE MaxL InvokeForLong('java.lang.Math.max', 'long long');
        c = LOAD '$d/customer.parquet';
        p = FOREACH c GENERATE c_custkey, Lo(c_mktsegment) AS seg,
              MaxL(c_custkey, 1000) AS floor_key;
      """).apply("p").df
    },
      """SELECT c_custkey, lower(c_mktsegment) AS seg,
                CAST(greatest(c_custkey, 1000) AS BIGINT) AS floor_key
         FROM customer"""),

    // scripting-UDF surface (REGISTER … USING streaming_python; the
    // reference's StreamingUDF): the whole path — decorator discovery,
    // namespaced dispatch, per-thread python process, JSON protocol —
    // exercised through an actual Pig script, oracle-checked row-by-row
    Gate("q97_py_udf", (s, d) => {
      val py = java.nio.file.Files.createTempFile("graft_gate_udf", ".py")
      java.nio.file.Files.write(py,
        """from pig_util import outputSchema
          |
          |@outputSchema("rlang:chararray")
          |def rev(x):
          |    return None if x is None else x[::-1]
          |
          |@outputSchema("nw:long")
          |def nwords(x):
          |    return 0 if x is None else len(x.split())
          |""".stripMargin.getBytes("UTF-8"))
      py.toFile.deleteOnExit()
      graft.frontend.PigRunner(s).run(s"""
        REGISTER '$py' USING streaming_python AS f;
        d = LOAD '$d/documents.parquet';
        r = FOREACH d GENERATE doc_id, f.rev(lang) AS rlang,
                               f.nwords(text) AS nw;
      """).apply("r").df
    },
      // mirrors the q97 python UDFs exactly: python s[::-1] reverses code
      // points (ASCII lang tags here); len(s.split()) counts maximal
      // whitespace-free runs = the list_filter'd regex split; coalesce
      // mirrors the UDF's `0 if s is None` null rule (text is nullable
      // in-contract even though the current fixtures carry none)
      """SELECT doc_id, reverse(lang) AS rlang,
                coalesce(CAST(len(list_filter(
                  string_split_regex(trim(text), '[ \t\n\f\r\x0B]+'),
                  w -> length(w) > 0)) AS BIGINT), 0) AS nw
         FROM documents"""),

    // REGISTER'd-jar EvalFunc surface: a user UDF compiled against the
    // engine's org.apache.pig facade at query time (the real migration
    // path for jar-carrying Pig scripts), dispatched by FQN from a
    // script, oracle-checked row-by-row
    Gate("q98_jar_udf", (s, d) => {
      graft.frontend.PigRunner(s).run(s"""
        REGISTER '$gateJar';
        d = LOAD '$d/documents.parquet';
        o = LOAD '$d/orders.parquet';
        r = FOREACH d GENERATE doc_id, gate.udf.Exclaim(lang) AS exclaimed;
        t = FOREACH o GENERATE o_orderkey,
              gate.udf.NextDay(o_orderdate) AS nd,
              (double)gate.udf.DecHalf(o_orderkey) AS half;
        j = JOIN r BY doc_id, t BY o_orderkey;
        x = FOREACH j GENERATE doc_id, exclaimed, nd, half;
      """).apply("x").df
    },
      // mirrors q98's jar UDF trio: Exclaim (string concat), NextDay
      // (joda DateTime +1d ↔ timestamp + INTERVAL), DecHalf (exact
      // BigDecimal halving, cast to double — k/2 is exact in both
      // decimal and binary arithmetic)
      """SELECT d.doc_id, d.lang || '!' AS exclaimed,
                o.o_orderdate + INTERVAL 1 DAY AS nd,
                o.o_orderkey / 2.0 AS half
         FROM documents d JOIN orders o ON d.doc_id = o.o_orderkey"""),

    // COR / COV aggregates (§2.6 COR.java/COV.java)
    Gate("q54_cor_cov", (s, d) =>
      T(s, d, "lineitem")
        .groupBy("l_returnflag" -> col("l_returnflag"))
        .agg(round(COR(col("l_quantity"), col("l_extendedprice")), 4)
               .as("cor_qp"),
             round(COV(col("l_quantity"), col("l_extendedprice")), 2)
               .as("cov_qp"),
             round(stddev_samp(col("l_discount")), 6).as("sd_disc")).df,
      """SELECT l_returnflag,
                round(corr(l_quantity, l_extendedprice), 4) AS cor_qp,
                round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp,
                round(stddev_samp(l_discount), 6) AS sd_disc
         FROM lineitem GROUP BY l_returnflag"""),

    // SPRINTF / STRSPLIT / LCFIRST string builtins (§2.6)
    Gate("q55_sprintf_split", (s, d) =>
      T(s, d, "part").foreach(
        col("p_partkey"),
        SPRINTF("%s|%05d", col("p_brand"), col("p_partkey")).as("tagged"),
        SIZE(STRSPLIT(col("p_type"), " ")).as("n_words"),
        LCFIRST(col("p_name")).as("lc")).df,
      """SELECT p_partkey, printf('%s|%05d', p_brand, p_partkey) AS tagged,
                CAST(len(string_split(p_type, ' ')) AS BIGINT) AS n_words,
                lower(substring(p_name, 1, 1)) || substring(p_name, 2) AS lc
         FROM part"""),

    // PluckTuple: prefix projection after a disambiguated join
    Gate("q59_pluck", (s, d) =>
      T(s, d, "customer")
        .joinOn(T(s, d, "orders").as("o"), col("c_custkey"), col("o_custkey"),
                strategy = "replicated")
        .pluck("o_")
        .foreach(col("o_orderkey"), col("o_orderstatus"),
                 col("o_totalprice")).df,
      """SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM customer JOIN orders ON c_custkey = o_custkey""")
  )
}
