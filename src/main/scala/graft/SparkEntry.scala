package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.parse.{ApacheParser, AuthfailParser}

/** Driver contract — one `queries` entry per implemented operator (SURVEY.md §2),
  * each with a DuckDB-equivalent `oracleSql` on the same Parquet tables.
  *
  * Determinism conventions (so Spark and DuckDB hash-match bit-for-bit):
  *  - money/metric doubles are compared as `floor(x * 100)` longs — IEEE double
  *    arithmetic is identical in both engines, and integer sums are order-independent
  *    (plain double SUM is not);
  *  - DuckDB integer SUMs are wrapped in `CAST(... AS BIGINT)` (DuckDB promotes to
  *    HUGEINT);
  *  - timestamps are rendered with `date_format`/`strftime` or compared as epoch
  *    seconds via floor division;
  *  - every result carries a total ORDER BY with full tie-breaks.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the TPC-H-Q1-shaped
    * pricing summary, the engine's headline aggregate.
    */
  def entry(spark: SparkSession): DataFrame =
    pricingSummary(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------------
  // shared fragments
  // ---------------------------------------------------------------------------

  /** floor(x*100) cents in Spark (long). */
  private def cents(c: Column): Column = floor(c * lit(100)).cast("long")

  /** Synthetic dotted-quad from a numeric id (mirrored literally in oracle SQL). */
  private def synthIp(userId: Column): Column =
    concat_ws(".", lit(10), userId % 256, expr("(user_id div 3) % 256"),
      expr("(user_id div 7) % 256"))

  private val synthIpSql =
    "'10.' || CAST(user_id % 256 AS VARCHAR) || '.' || CAST((user_id // 3) % 256 AS VARCHAR) || '.' || CAST((user_id // 7) % 256 AS VARCHAR)"

  // ---------------------------------------------------------------------------
  // queries
  // ---------------------------------------------------------------------------

  /** Q1 shape (reference apache_access.py:59-69): group/count/sum/order with the
    * qty-desc, key-asc ordering. events.event_type stands in for reqline.
    */
  def hitsByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("qty"), sum(cents(col("value"))).as("value_cents"))
      .orderBy(col("qty").desc, col("event_type").asc)

  /** Q1 grand totals via ROLLUP (reference accumulates client-side,
    * apache_access.py:57-73; rollup computes groups + total in one pass).
    */
  def grandTotals(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .rollup(col("event_type"))
      .agg(count(lit(1)).as("qty"), sum(cents(col("value"))).as("value_cents"),
        grouping(col("event_type")).cast("int").as("is_total"))
      .select(
        coalesce(col("event_type"), lit("TOTAL")).as("event_type"),
        col("is_total"), col("qty"), col("value_cents"))
      .orderBy(col("is_total"), col("event_type"))

  /** Q2 shape (reference authfail.py:34-39) incl. INET-style numeric octet
    * ordering for the ASC tiebreak (SURVEY §2.4 Q2 note).
    */
  def attemptsByIp(spark: SparkSession, dir: String): DataFrame = {
    val withIp = Tables.events(spark, dir).withColumn("src_addr", synthIp(col("user_id")))
    val parts = split(col("src_addr"), "\\.")
    withIp.groupBy(col("src_addr"))
      .agg(count(lit(1)).as("qty"))
      .orderBy(col("qty").desc, parts.getItem(1).cast("int").asc,
        parts.getItem(2).cast("int").asc, parts.getItem(3).cast("int").asc)
      .select(col("src_addr"), col("qty"))
  }

  /** S4/P13 — 24 h sliding-window scan (reference core.py:60-61) with the cutoff
    * anchored to max(ts) for oracle determinism. NB: because the cutoff is
    * data-derived (broadcast 1-row subquery), the ts filter evaluates ABOVE the
    * join — this shape costs one extra column scan and does not push down. The
    * production path (Reports.window24h with a literal `now`) does push the
    * predicate to the Parquet scan and prunes date partitions (asserted in
    * IngestSpec).
    */
  def window24h(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cutoff = ev.agg((max(col("ts")) - expr("INTERVAL 1 DAY")).as("cutoff"))
    ev.crossJoin(broadcast(cutoff))
      .filter(col("ts") >= col("cutoff"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("qty"), sum(cents(col("value"))).as("value_cents"))
      .orderBy(col("event_type"))
  }

  /** Q3 shape (reference maillog.py:106-138): detail listing over a time window,
    * fact→dim broadcast equi-joins, (timestamp, id) ordering, P10 address render.
    */
  def inboxListing(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val cutoff = o.agg((max(col("o_orderdate")) - expr("INTERVAL 90 DAY")).as("cutoff"))
    o.crossJoin(broadcast(cutoff))
      .filter(col("o_orderdate") >= col("cutoff"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        F.formatAddress(col("c_name"),
          concat(lit("c"), col("c_custkey").cast("string"), lit("@"),
            lower(col("n_name")), lit(".example"))).as("sender"),
        cents(col("o_totalprice")).as("size_cents"))
      .orderBy(col("ts").asc, col("o_orderkey").asc)
  }

  /** Q3 semi-join (reference maillog.py:118-128: recipient domain ∈ local-domain
    * set) as a broadcast LEFT SEMI join against a derived dimension.
    */
  def domainSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val domains = n.join(broadcast(r.filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(concat(lower(col("n_name")), lit(".example")).as("domain"))
    val custDomains = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(concat(lower(col("n_name")), lit(".example")).as("domain"))
    custDomains.join(broadcast(domains), Seq("domain"), "left_semi")
      .groupBy(col("domain")).agg(count(lit(1)).as("qty"))
      .orderBy(col("domain"))
  }

  /** W2 — dimension upsert surrogate-id assignment (reference maillog.py:66-78):
    * distinct pairs + deterministic sequential ids. Ids come from the
    * distributed ordered indexer (range partition + per-partition offsets),
    * NOT a single-partition `row_number()` window — same ids, no 1-task
    * bottleneck on a large merge batch.
    */
  def contactUpsert(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val pairs = c.select(
      col("c_name").as("realname"),
      concat(lit("c"), col("c_custkey").cast("string"),
        lit("@customers.example")).as("email_address"))
      .distinct()
    graft.ops.OrderedIndex.withOrderedId(pairs,
        Seq(col("realname"), col("email_address")), "id")
      .select(col("id"), col("realname"), col("email_address"))
      .orderBy(col("id"))
  }

  /** W3 — per-group first-occurrence dedup (reference maillog.py:88-94) mapped to
    * distinct-collect; rendered sorted for determinism.
    */
  def recipientDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_items"),
        array_join(transform(array_sort(collect_set(col("l_partkey"))),
          x => x.cast("string")), ",").as("parts"))
      .orderBy(col("l_orderkey"))

  /** S6 — embedded JSON extraction (reference dailyreport.py:97-98 vnstat JSON →
    * scalar navigation) over events.props.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("qty"), count(col("k")).as("k_present"),
        sum(col("k")).as("k_sum"))
      .orderBy(col("event_type"))

  /** P1/P2/P3/P4/P5 round-trip — build format-faithful Apache access-log lines
    * (reference format apache_access.py:88-90) from events, parse them with the
    * real parser, and run the Q1 aggregate on the parsed output. The oracle
    * computes the same aggregate from the base columns, so any parser defect
    * breaks the hash match.
    */
  def apacheRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val path = concat(lit("/p"), col("user_id") % 20)
    val reqline = concat(lit("GET "), path, lit(" HTTP/1.1"))
    val lines = ev.select(concat(
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), lit(" +0000|"),
      lit("www.example.com|443|"), synthIp(col("user_id")), lit("|"),
      col("user_id") % 1000, lit("|"), cents(col("value")), lit("|"),
      col("user_id") * 7 % 100000, lit("|"), lit(200), lit("|"),
      lit("[\"-\", \""), reqline, lit("\", \"GET\", \""), path,
      lit("\", \"HTTP/1.1\", \"-\", \"Mozilla/5.0\"]")).as("value"))
    // single-file local scan = one partition; spread the parse across cores
    // (production ingest arrives as many files/splits and fans out naturally)
    val parsed = ApacheParser.parse(
      lines.repartition(spark.sessionState.conf.numShufflePartitions)).events
    parsed.groupBy(col("reqline"))
      .agg(count(lit(1)).as("qty"), sum(col("bytesin")).as("sum_bytesin"),
        sum(col("bytesout")).as("sum_bytesout"),
        min(unix_timestamp(col("timestamp"))).as("min_ts"))
      .orderBy(col("qty").desc, col("reqline").asc)
  }

  /** P6 round-trip — build journal-faithful sshd lines (both reference regex
    * variants, authfail.py:48-62) from events, parse with the real regex parser,
    * and run the Q2 aggregate. Oracle computes from base columns.
    */
  def authfailRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val ip = synthIp(col("user_id"))
    val user = concat(lit("user"), col("user_id") % 50)
    val tsIso = concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"), lit("+00:00"))
    val line = when(col("event_id") % 5 === 0,
      concat(tsIso, lit(" myhost sshd[12345]: Invalid user "), user,
        lit(" from "), ip, lit(" port 50000")))
      .when(col("event_id") % 5 === 1,
        concat(tsIso, lit(" myhost sshd[777]: message repeated 2 times:"),
          lit(" [ Failed password for "), user, lit(" from "), ip,
          lit(" port 22222 ssh2]")))
      .otherwise(
        concat(tsIso, lit(" myhost sshd[999]: Failed password for invalid user "),
          user, lit(" from "), ip, lit(" port 40000 ssh2")))
    val parsed = AuthfailParser.parse(ev.select(line.as("value"))
      .repartition(spark.sessionState.conf.numShufflePartitions)).events
    val parts = split(col("src_addr"), "\\.")
    parsed.groupBy(col("src_addr"))
      .agg(count(lit(1)).as("qty"), min(unix_timestamp(col("timestamp"))).as("min_ts"))
      .orderBy(col("qty").desc, parts.getItem(1).cast("int").asc,
        parts.getItem(2).cast("int").asc, parts.getItem(3).cast("int").asc)
      .select(col("src_addr"), col("qty"), col("min_ts"))
  }

  /** P11 — digit-grouped rendering (reference core.py:51-57) of per-type totals. */
  def longintTotals(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(sum(cents(col("value"))).as("total_cents"))
      .select(col("event_type"), F.longint(col("total_cents")).as("total_grouped"))
      .orderBy(col("event_type"))

  /** P12 — UTC ISO-8601 "Z" rendering (reference core.py:64-65). */
  def isoZRender(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(F.iso8601Z(min(col("ts"))).as("first_seen"),
        F.iso8601Z(max(col("ts"))).as("last_seen"))
      .orderBy(col("event_type"))

  /** P8/P9 — code-point truncation (maillog.py:98) + domain extraction
    * (maillog.py:128) over documents.
    */
  def truncateAndDomain(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        F.truncate(col("text"), 40).as("snippet"),
        length(col("text")).cast("long").as("n_cp"),
        F.domainOf(concat(col("source"), lit("@"), col("lang"), lit(".example")))
          .as("domain"))
      .orderBy(col("doc_id"))

  /** Top-k with total order (LIMIT + deterministic tie-break). */
  def topOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("total_cents"),
        col("o_orderpriority"))
      .orderBy(col("total_cents").desc, col("o_orderkey").asc)
      .limit(10)

  /** TPC-H-Q1-shaped pricing summary — the headline scan+aggregate. Two-phase
    * hash aggregate over a pruned Parquet scan; no shuffle beyond the 4-group
    * exchange.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val cutoff = li.agg((max(col("l_shipdate")) - expr("INTERVAL 30 DAY")).as("cutoff"))
    li.crossJoin(broadcast(cutoff))
      .filter(col("l_shipdate") <= col("cutoff"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long")).as("sum_disc_cents"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty",
        col("sum_qty").cast("double") / col("count_order").cast("double"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H-Q3-shaped revenue top-k: selective dim filter → broadcast join →
    * aggregate → top-k.
    */
  def revenueTopk(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H-Q5-shaped multiway join: region→nation broadcast chain over the fact
    * tables, revenue by nation.
    */
  def regionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(s.withColumnRenamed("s_nationkey", "sn"),
        col("l_suppkey") === col("s_suppkey") && col("sn") === col("c_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("n_name").asc)
  }

  // ---------------------------------------------------------------------------
  // registry
  // ---------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = coreQueries ++ EntryOps.entries

  /** Builds the registered query `name` over `dir` and hands it to `sink`,
    * every Spark job of both described as `graft:query/<name>`; the
    * caller's description is restored after. Construction-time jobs (eager
    * barriers, scalar reads) are named too. The scratch directories the
    * entry asks for ([[Scratch.dir]]) are deleted when `sink` returns or
    * throws, so `sink` must consume everything it needs from the frame.
    */
  def run[T](spark: SparkSession, name: String, dir: String)(
      sink: DataFrame => T): T =
    Scratch.scoped(graft.obs.JobLedger.described(spark, s"graft:query/$name")(
      sink(queries(name)(spark, dir))))

  def oracleSql: Map[String, String] =
    coreOracles ++ EntryOps.oracles ++ EntryOps.indexSplitOracles ++
      EntryOps.aggregatedOracles

  /** Fixed-geometry CONTRAST routes (r14 verdict item 2, one canonical
    * place): each is CORRECT and oracle-green but deliberately keeps a
    * geometry that does NOT grow with the corpus, so its per-bucket /
    * per-cluster population grows ∝ N and its ×100 trend is super-linear
    * BY CONSTRUCTION — it exists to price what the grown-geometry
    * deployment sibling (the value here) buys. Benches and scale probes
    * carry this map into their artifacts (`contrasts` in
    * bench_detail.json) so no headline number with a known super-linear
    * trend travels unlabeled; docs/BENCH_NOTES.md holds the full table
    * with each pair's measured ×100 exponents. Deployment users take the
    * sibling; the contrast stays registered because the PAIRING is the
    * evidence (d22-vs-d26 is how the grown-K claim was established).
    */
  val contrasts: Map[String, String] = Map(
    "d06_embed_neardup_lsh" -> "d31_embed_neardup_banded",
    "d16_semantic_dedup" -> "d26_semdedup_grown",
    "d17_embed_dedup_incremental" -> "d29_embed_dedup_banded",
    "d22_semdedup_incremental" -> "d26_semdedup_grown",
    // decode-everything vs decode-once (r18 verdict item 3): e05 re-runs
    // every media decoder per execution; e09 is the value-identical
    // deployment route reading the persisted feature root — the decoder
    // analogue of the d06→d31 geometry pairing
    "e05_multimodal_corpus" -> "e09_multimodal_incremental")

  /** [[contrasts]] rendered as a JSON object (artifact embedding). */
  def contrastsJson: String = contrasts.toSeq.sorted
    .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
    .mkString("{", ",", "}")

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_hits_by_type" -> (hitsByType _),
    "q02_grand_totals" -> (grandTotals _),
    "q03_attempts_by_ip" -> (attemptsByIp _),
    "q04_window_24h" -> (window24h _),
    "q05_inbox_listing" -> (inboxListing _),
    "q06_domain_semijoin" -> (domainSemiJoin _),
    "q07_contact_upsert" -> (contactUpsert _),
    "q08_recipient_dedup" -> (recipientDedup _),
    "q09_json_extract" -> (jsonExtract _),
    "q10_apache_roundtrip" -> (apacheRoundtrip _),
    "q11_authfail_roundtrip" -> (authfailRoundtrip _),
    "q12_longint_totals" -> (longintTotals _),
    "q13_iso_z" -> (isoZRender _),
    "q14_truncate_domain" -> (truncateAndDomain _),
    "q15_top_orders" -> (topOrders _),
    "q16_pricing_summary" -> (pricingSummary _),
    "q17_revenue_topk" -> (revenueTopk _),
    "q18_regional_revenue" -> (regionalRevenue _)
  )

  private def coreOracles: Map[String, String] = Map(
    "q01_hits_by_type" ->
      """SELECT event_type, count(*) AS qty,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY event_type
         ORDER BY qty DESC, event_type ASC""",
    "q02_grand_totals" ->
      """SELECT coalesce(event_type, 'TOTAL') AS event_type,
         CAST(GROUPING(event_type) AS INTEGER) AS is_total,
         count(*) AS qty,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY ROLLUP(event_type)
         ORDER BY is_total, event_type""",
    "q03_attempts_by_ip" ->
      s"""SELECT src_addr, qty FROM (
          SELECT $synthIpSql AS src_addr, count(*) AS qty,
          user_id % 256 AS o2, (user_id // 3) % 256 AS o3, (user_id // 7) % 256 AS o4
          FROM events GROUP BY 1, 3, 4, 5)
          ORDER BY qty DESC, o2 ASC, o3 ASC, o4 ASC""",
    "q04_window_24h" ->
      """SELECT event_type, count(*) AS qty,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events
         WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 1 DAY
         GROUP BY event_type ORDER BY event_type""",
    "q05_inbox_listing" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts,
         c_name || ' <c' || CAST(c_custkey AS VARCHAR) || '@' || lower(n_name) || '.example>' AS sender,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS size_cents
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderdate >= (SELECT max(o_orderdate) FROM orders) - INTERVAL 90 DAY
         ORDER BY ts ASC, o_orderkey ASC""",
    "q06_domain_semijoin" ->
      """SELECT domain, count(*) AS qty FROM (
           SELECT lower(n_name) || '.example' AS domain
           FROM customer JOIN nation ON c_nationkey = n_nationkey) t
         WHERE domain IN (
           SELECT lower(n_name) || '.example'
           FROM nation JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE')
         GROUP BY domain ORDER BY domain""",
    "q07_contact_upsert" ->
      """SELECT CAST(row_number() OVER (ORDER BY realname, email_address) AS BIGINT) AS id,
         realname, email_address
         FROM (SELECT DISTINCT c_name AS realname,
               'c' || CAST(c_custkey AS VARCHAR) || '@customers.example' AS email_address
               FROM customer)
         ORDER BY id""",
    "q08_recipient_dedup" ->
      """SELECT l_orderkey, count(*) AS n_items,
         array_to_string(list_sort(list(DISTINCT l_partkey)), ',') AS parts
         FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""",
    "q09_json_extract" ->
      """SELECT event_type, count(*) AS qty,
         count(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT)) AS k_present,
         CAST(sum(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT)) AS BIGINT) AS k_sum
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q10_apache_roundtrip" ->
      """SELECT 'GET /p' || CAST(user_id % 20 AS VARCHAR) || ' HTTP/1.1' AS reqline,
         count(*) AS qty,
         CAST(sum(user_id % 1000) AS BIGINT) AS sum_bytesin,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_bytesout,
         CAST(min(epoch_us(ts) // 1000000) AS BIGINT) AS min_ts
         FROM events GROUP BY 1
         ORDER BY qty DESC, reqline ASC""",
    "q11_authfail_roundtrip" ->
      s"""SELECT src_addr, qty, min_ts FROM (
          SELECT $synthIpSql AS src_addr, count(*) AS qty,
          CAST(min(epoch_us(ts) // 1000000) AS BIGINT) AS min_ts,
          user_id % 256 AS o2, (user_id // 3) % 256 AS o3, (user_id // 7) % 256 AS o4
          FROM events GROUP BY 1, 4, 5, 6)
          ORDER BY qty DESC, o2 ASC, o3 ASC, o4 ASC""",
    "q12_longint_totals" ->
      """SELECT event_type,
         replace(format('{:,}', CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)), ',', ' ') AS total_grouped
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q13_iso_z" ->
      """SELECT event_type,
         strftime(min(ts), '%Y-%m-%dT%H:%M:%SZ') AS first_seen,
         strftime(max(ts), '%Y-%m-%dT%H:%M:%SZ') AS last_seen
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q14_truncate_domain" ->
      """SELECT doc_id, substring(text, 1, 40) AS snippet,
         CAST(length(text) AS BIGINT) AS n_cp,
         CASE WHEN strpos(source || '@' || lang || '.example', '@') > 0
              THEN substring(source || '@' || lang || '.example',
                             strpos(source || '@' || lang || '.example', '@') + 1)
              ELSE '' END AS domain
         FROM documents ORDER BY doc_id""",
    "q15_top_orders" ->
      """SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents,
         o_orderpriority
         FROM orders ORDER BY total_cents DESC, o_orderkey ASC LIMIT 10""",
    "q16_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
         count(*) AS count_order,
         CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty
         FROM lineitem
         WHERE l_shipdate <= (SELECT max(l_shipdate) FROM lineitem) - INTERVAL 30 DAY
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q17_revenue_topk" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY l_orderkey, o_date
         ORDER BY revenue_cents DESC, l_orderkey ASC LIMIT 10""",
    "q18_regional_revenue" ->
      """SELECT n_name,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name
         ORDER BY revenue_cents DESC, n_name ASC"""
  )
}
