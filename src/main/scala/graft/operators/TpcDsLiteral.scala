package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Catalog, QueryDef}

/** LITERAL TPC-DS query texts, run unmodified.
  *
  * The reference's defining artifact is 101 runnable TPC-DS query files
  * (reference: TpcDsBatchExecITCase.scala:104-139 over the .sql files
  * under src/test/resources/tpcds/queries/1/). The fixture catalog has no
  * 24-table TPC-DS schema, so the composite family (TpcDsComposites)
  * transplants the *shapes*; this module closes the LITERAL gap for the
  * whole store-channel family: a view adapter maps the fixtures onto the
  * TPC-DS store_sales/date_dim/item/store/customer/customer_address
  * names, synthesizes the pure dimension tables (customer_demographics /
  * household_demographics / time_dim / promotion) as range(n)
  * enumerations, and 103 of the reference's own query texts — the
  * COMPLETE 101-query run list (TpcDsBatchExecITCase.scala:109-137,
  * q1..q99 with the a/b variants) plus the q78/q90 texts its harness
  * skips — run through `spark.sql` unchanged (comment banners stripped,
  * otherwise verbatim; pinned against the reference files by
  * TpcDsLiteralSpec). The DuckDB oracle prepends the same view
  * definitions as CTEs to the same literal text — one query body, two
  * engines, the mapping stated once.
  *
  * Mapping (deterministic, fixture-derived):
  *   - store_sales: one row per lineitem; sold-date key = epoch-day of
  *     the order date, item key = partkey, ext sales price = extended
  *     price as an INTEGER-VALUED DOUBLE (`floor(l_extendedprice)`).
  *     Why not decimal: the ratio texts (q98's revenueratio, q59's
  *     week-over-week divisions) divide aggregates, and DuckDB's
  *     DECIMAL/DECIMAL yields DOUBLE while Spark yields DECIMAL(38,6) —
  *     an unfixable output-type split for a verbatim text. Integer-valued
  *     doubles keep both engines in DOUBLE end-to-end, every sum is
  *     EXACT (integers < 2^53 sum associatively, so partial-aggregation
  *     order is irrelevant), and each division rounds exactly once from
  *     exact operands — bit-identical across engines. `floor`, not
  *     `round`: both engines floor the same IEEE bits identically,
  *     whereas Spark's round() goes through the shortest-decimal repr
  *     and DuckDB's rounds the raw binary — they disagree on .49999…
  *     doubles;
  *   - date_dim: the distinct order dates with (d_date_sk, d_date,
  *     d_year, d_moy, d_day_name, d_week_seq = epoch-day div 7,
  *     d_month_seq = (year-1900)*12 + month-1 — the real TPC-DS month-seq
  *     epoch, so q59's 1176..1199 window lands on 1998/1999, inside the
  *     fixture's 1995-2001 order span);
  *   - item: parts with brand text/id (id parsed from 'Brand#nn'),
  *     category drawn from the ten real TPC-DS category names by
  *     p_partkey % 10 (so q98's IN ('Electronics','Women','Men') filter
  *     selects a deterministic ~30%), class = p_type, and the selective
  *     filter columns derived as partkey residues (i_manager_id = pk %
  *     50, i_manufact_id = pk % 200);
  *   - store: suppliers with synthetic business id/name
  *     ('store_N'/'Store#N') and zip.
  */
object TpcDsLiteral {

  def defs: Seq[QueryDef] =
    Seq(literal("qds03_literal", Q3), literal("qds19_literal", Q19),
      literal("qds42_literal", Q42), literal("qds52_literal", Q52),
      literal("qds55_literal", Q55), literal("qds98_literal", Q98),
      literal("qds59_literal", Q59), literal("qds36_literal", Q36),
      literal("qds53_literal", Q53), literal("qds63_literal", Q63),
      literal("qds65_literal", Q65), literal("qds89_literal", Q89),
      // q64's final select carries duplicate output names (cs1.syear /
      // cs2.syear, cs1.cnt / cs2.cnt): outCols renames positionally on
      // both sides, the only way to name a verbatim text's dup columns
      literal("qds64_literal", Q64, outCols = Seq("product_name",
        "store_name", "store_zip", "b_street_number", "b_street_name",
        "b_city", "b_zip", "c_street_number", "c_street_name", "c_city",
        "c_zip", "syear1", "cnt1", "s11", "s21", "s31", "s12", "s22",
        "s32", "syear2", "cnt2")),
      literal("qds06_literal", Q6), literal("qds07_literal", Q7),
      literal("qds73_literal", Q73),
      literal("qds96_literal", Q96, outCols = Seq("cnt")),
      literal("qds13_literal", Q13), literal("qds48_literal", Q48),
      literal("qds88_literal", Q88), literal("qds01_literal", Q1),
      literal("qds43_literal", Q43), literal("qds47_literal", Q47),
      literal("qds70_literal", Q70),
      literal("qds50_literal", Q50, outCols = Seq("s_store_name",
        "s_company_id", "s_street_number", "s_street_name", "s_street_type",
        "s_suite_number", "s_city", "s_county", "s_state", "s_zip",
        "d30", "d31_60", "d61_90", "d91_120", "d_over_120"),
        castBigint = Set("d30", "d31_60", "d61_90", "d91_120", "d_over_120")),
      literal("qds08_literal", Q8),
      literal("qds28_literal", Q28), literal("qds46_literal", Q46),
      literal("qds68_literal", Q68),
      literal("qds79_literal", Q79, outCols = Seq("c_last_name",
        "c_first_name", "s_city_30", "ss_ticket_number", "amt", "profit")),
      literal("qds41_literal", Q41), literal("qds24a_literal", Q24A),
      literal("qds24b_literal", Q24B),
      literal("qds09_literal", Q9), literal("qds93_literal", Q93),
      literal("qds84_literal", Q84),
      literal("qds15_literal", Q15), literal("qds20_literal", Q20),
      literal("qds12_literal", Q12), literal("qds86_literal", Q86),
      literal("qds32_literal", Q32, outCols = Seq("excess_discount_amt")),
      literal("qds92_literal", Q92, outCols = Seq("excess_discount_amt")),
      literal("qds02_literal", Q2, outCols = Seq("d_week_seq1", "r_sun",
        "r_mon", "r_tue", "r_wed", "r_thu", "r_fri", "r_sat")),
      literal("qds74_literal", Q74), literal("qds76_literal", Q76),
      literal("qds97_literal", Q97, outCols = Seq("store_only",
        "catalog_only", "store_and_catalog"),
        castBigint = Set("store_only", "catalog_only", "store_and_catalog")),
      literal("qds04_literal", Q4), literal("qds11_literal", Q11),
      literal("qds33_literal", Q33), literal("qds45_literal", Q45),
      literal("qds51_literal", Q51), literal("qds56_literal", Q56),
      literal("qds60_literal", Q60),
      literal("qds26_literal", Q26), literal("qds31_literal", Q31),
      literal("qds44_literal", Q44),
      literal("qds38_literal", Q38, outCols = Seq("cnt")),
      literal("qds87_literal", Q87, outCols = Seq("cnt")),
      literal("qds30_literal", Q30), literal("qds81_literal", Q81),
      literal("qds25_literal", Q25), literal("qds29_literal", Q29),
      literal("qds17_literal", Q17),
      literal("qds83_literal", Q83), literal("qds10_literal", Q10),
      literal("qds69_literal", Q69),
      literal("qds35_literal", Q35, outCols = Seq("ca_state", "cd_gender",
        "cd_marital_status", "cd_dep_count", "cnt1", "sum_dep1", "sum_dep2",
        "sum_dep3", "cd_dep_employed_count", "cnt2", "sum_emp1", "sum_emp2",
        "sum_emp3", "cd_dep_college_count", "cnt3", "sum_col1", "sum_col2",
        "sum_col3")),
      // q58's bare `order by item_id` is fine for Spark's resolver but
      // ambiguous for DuckDB's stricter binder; the three item_id columns
      // are equi-joined, so pinning one is semantics-preserving — a
      // dialect shim on the oracle side only, like the backtick rewrite
      literal("qds58_literal", Q58, oracleFixup =
        _.replace("order by item_id", "order by ss_items.item_id")),
      literal("qds23a_literal", Q23A, outCols = Seq("total_sales")),
      literal("qds62_literal", Q62, outCols = Seq("w_name_20", "sm_type",
        "web_name", "d30", "d31_60", "d61_90", "d91_120", "d_over_120"),
        castBigint = Set("d30", "d31_60", "d61_90", "d91_120", "d_over_120")),
      literal("qds99_literal", Q99, outCols = Seq("w_name_20", "sm_type",
        "cc_name", "d30", "d31_60", "d61_90", "d91_120", "d_over_120"),
        castBigint = Set("d30", "d31_60", "d61_90", "d91_120", "d_over_120")),
      literal("qds94_literal", Q94, outCols = Seq("order_cnt",
        "total_ship_cost", "total_net_profit")),
      literal("qds95_literal", Q95, outCols = Seq("order_cnt",
        "total_ship_cost", "total_net_profit")),
      literal("qds91_literal", Q91), literal("qds66_literal", Q66),
      literal("qds16_literal", Q16, outCols = Seq("order_cnt",
        "total_ship_cost", "total_net_profit")),
      literal("qds27_literal", Q27),
      literal("qds67_literal", Q67, oracleFixup = orderByNullsFirst),
      literal("qds14a_literal", Q14A, outCols = Seq("channel", "i_brand_id",
        "i_class_id", "i_category_id", "sum_sales", "sum_number_sales"),
        castBigint = Set("sum_number_sales"),
        oracleFixup = orderByNullsFirst),
      // q14b's star expands a self-cross of this_year/prev_year — twelve
      // columns with six duplicated names; positional renames on both sides
      literal("qds14b_literal", Q14B, outCols = Seq("ty_channel",
        "ty_brand_id", "ty_class_id", "ty_category_id", "ty_sales",
        "ty_number_sales", "ly_channel", "ly_brand_id", "ly_class_id",
        "ly_category_id", "ly_sales", "ly_number_sales")),
      literal("qds18_literal", Q18, outCols = Seq("i_item_id", "ca_country",
        "ca_state", "ca_county", "agg1", "agg2", "agg3", "agg4", "agg5",
        "agg6", "agg7"),
        castDouble = Set("agg1", "agg2", "agg3", "agg4", "agg5", "agg6",
          "agg7"),
        oracleFixup = b => q18Avgs(orderByNullsFirst(b))),
      literal("qds57_literal", Q57), literal("qds75_literal", Q75),
      literal("qds78_literal", Q78),
      literal("qds05_literal", Q5, oracleFixup = orderByNullsFirst),
      literal("qds77_literal", Q77, oracleFixup = orderByNullsFirst),
      literal("qds80_literal", Q80, oracleFixup = orderByNullsFirst),
      literal("qds49_literal", Q49, castDouble = Set("return_ratio"),
        oracleFixup = q49Ratios),
      literal("qds61_literal", Q61, outCols = Seq("promotions", "total",
        "promo_pct"), castDouble = Set("promo_pct"), oracleFixup =
        _.replace("cast(promotions as decimal(15,4))/" +
          "cast(total as decimal(15,4))*100",
          duckRatio100("promotions", "total"))),
      literal("qds71_literal", Q71),
      literal("qds90_literal", Q90, castDouble = Set("am_pm_ratio"),
        oracleFixup =
        _.replace("cast(amc as decimal(15,4))/cast(pmc as decimal(15,4))",
          duckRatio20("amc", "pmc"))),
      literal("qds21_literal", Q21),
      literal("qds22_literal", Q22, oracleFixup = orderByNullsFirst),
      literal("qds37_literal", Q37), literal("qds82_literal", Q82),
      literal("qds40_literal", Q40),
      // the text's final ORDER BY names bare d_week_seq, which Spark
      // resolves to the select-list output; DuckDB calls it ambiguous
      // across d1/d2/d3 — qualify in the oracle copy only
      // q39's star expands inv1 x inv2 — ten columns with duplicated
      // names; positional renames on both sides (cov is float-exact:
      // see the oracle's unrolled-Welford stdev mirror)
      literal("qds39a_literal", Q39A, outCols = Seq("w1_warehouse_sk",
        "i1_item_sk", "d1_moy", "mean1", "cov1", "w2_warehouse_sk",
        "i2_item_sk", "d2_moy", "mean2", "cov2")),
      literal("qds39b_literal", Q39B, outCols = Seq("w1_warehouse_sk",
        "i1_item_sk", "d1_moy", "mean1", "cov1", "w2_warehouse_sk",
        "i2_item_sk", "d2_moy", "mean2", "cov2")),
      // Four verbatim texts whose predicates are sparser than the
      // fixture's density at the gate scale — both engines agree on the
      // result (q54: 9 rows from sf0.1 up; q23b/q34/q85: empty at test
      // scales — see TpcDsLiteralSpec emptyOk for the per-query cause)
      literal("qds23b_literal", Q23B),
      literal("qds34_literal", Q34),
      literal("qds54_literal", Q54),
      literal("qds85_literal", Q85, outCols = Seq("r_desc", "avg_quantity",
        "avg_refunded_cash", "avg_fee")),
      literal("qds72_literal", Q72, outCols = Seq("i_item_desc",
        "w_warehouse_name", "d_week_seq", "no_promo", "promo", "total_cnt"),
        castBigint = Set("no_promo", "promo"),
        oracleFixup =
        _.replace(
          "order by total_cnt desc, i_item_desc, w_warehouse_name, d_week_seq",
          "order by total_cnt desc, i_item_desc, w_warehouse_name, d1.d_week_seq")))

  /** The literal bodies by reference file stem — `TpcDsLiteralSpec`
    * diffs each against the reference file on disk (comment banners
    * stripped, whitespace collapsed) to prove verbatimness. */
  def texts: Map[String, String] =
    Map("q3" -> Q3, "q19" -> Q19, "q42" -> Q42, "q52" -> Q52, "q55" -> Q55,
      "q98" -> Q98, "q59" -> Q59, "q36" -> Q36, "q53" -> Q53, "q63" -> Q63,
      "q65" -> Q65, "q89" -> Q89, "q6" -> Q6, "q7" -> Q7, "q73" -> Q73,
      "q96" -> Q96, "q13" -> Q13, "q48" -> Q48, "q88" -> Q88, "q1" -> Q1,
      "q43" -> Q43, "q47" -> Q47, "q50" -> Q50, "q70" -> Q70,
      "q8" -> Q8, "q28" -> Q28, "q46" -> Q46, "q68" -> Q68, "q79" -> Q79,
      "q41" -> Q41, "q24a" -> Q24A, "q24b" -> Q24B,
      "q9" -> Q9, "q93" -> Q93, "q84" -> Q84,
      "q15" -> Q15, "q20" -> Q20, "q12" -> Q12, "q86" -> Q86,
      "q32" -> Q32, "q92" -> Q92,
      "q2" -> Q2, "q74" -> Q74, "q76" -> Q76, "q97" -> Q97,
      "q4" -> Q4, "q11" -> Q11, "q33" -> Q33, "q45" -> Q45,
      "q51" -> Q51, "q56" -> Q56, "q60" -> Q60,
      "q26" -> Q26, "q31" -> Q31, "q44" -> Q44, "q38" -> Q38,
      "q87" -> Q87, "q30" -> Q30, "q81" -> Q81, "q25" -> Q25,
      "q29" -> Q29, "q17" -> Q17, "q83" -> Q83, "q10" -> Q10,
      "q35" -> Q35, "q69" -> Q69, "q58" -> Q58, "q23a" -> Q23A,
      "q62" -> Q62, "q99" -> Q99, "q94" -> Q94, "q95" -> Q95,
      "q91" -> Q91, "q66" -> Q66, "q16" -> Q16, "q27" -> Q27,
      "q67" -> Q67, "q14a" -> Q14A, "q14b" -> Q14B, "q18" -> Q18,
      "q57" -> Q57, "q75" -> Q75, "q78" -> Q78, "q5" -> Q5,
      "q49" -> Q49, "q61" -> Q61, "q71" -> Q71, "q77" -> Q77,
      "q80" -> Q80, "q90" -> Q90, "q21" -> Q21, "q22" -> Q22,
      "q37" -> Q37, "q40" -> Q40, "q72" -> Q72, "q82" -> Q82,
      "q23b" -> Q23B, "q34" -> Q34, "q54" -> Q54, "q85" -> Q85,
      "q39a" -> Q39A, "q39b" -> Q39B, "q64" -> Q64)

  /** The ten real TPC-DS category names, assigned by p_partkey % 10 so
    * the literal texts' category filters (q98's IN list) select a
    * deterministic ~30% of items. */
  private val CategoryNames: Seq[String] = Seq("Books", "Children",
    "Electronics", "Home", "Jewelry", "Men", "Music", "Shoes", "Sports",
    "Women")
  private def TpcDsCategories = array(CategoryNames.map(lit): _*)

  /** Real TPC-DS class vocabulary (13 names — every class the literal
    * q53/q63/q89 texts filter on), assigned by p_partkey % 13. The
    * moduli 10 / 13 / 16 of category / class / brand are pairwise
    * coprime-enough that the texts' conjunctive (category, class,
    * brand) filters always hit a deterministic nonempty slice. */
  private val ClassNames: Seq[String] = Seq("personal", "portable",
    "reference", "self-help", "accessories", "classical", "fragrances",
    "pants", "dresses", "newborn", "womens", "rock", "birdal")
  private def TpcDsClasses = array(ClassNames.map(lit): _*)

  /** Real TPC-DS-style brand strings (the 8 the q53/q63 texts name, plus
    * filler in the same grammar), assigned by p_partkey % 16;
    * i_brand_id = the same index + 1, so brand and id stay 1:1. */
  private val BrandNames: Seq[String] = Seq("scholaramalgamalg #14",
    "scholaramalgamalg #7", "exportiunivamalg #9", "scholaramalgamalg #9",
    "amalgimporto #1", "edu packscholar #1", "exportiimporto #1",
    "importoamalg #1", "corpnameless #3", "univmaxi #5", "amalgamalg #2",
    "brandunivamalg #4", "edu packamalg #6", "exportischolar #8",
    "importounivamalg #10", "maxinameless #12")
  private def TpcDsBrands = array(BrandNames.map(lit): _*)

  /** Store states by s_suppkey % 5 — 'TN' first so q36's state filter
    * selects a deterministic fifth of the stores. */
  private val StateNames: Seq[String] = Seq("TN", "KY", "GA", "OH", "TX")
  private def TpcDsStates = array(StateNames.map(lit): _*)

  /** Demographic / name vocabularies for the synthesized dimension
    * enumerations (all values the literal texts filter on, plus filler).
    * Every synthesized table is a pure integer enumeration — `range(n)`
    * plus modulo-indexed lists — stated once here and mirrored verbatim
    * in the DuckDB CTEs, so both engines enumerate identical rows. */
  private val MaritalStatuses = Seq("M", "S", "D", "W", "U")
  private val EducationStatuses = Seq("Primary", "Secondary", "College",
    "2 yr Degree", "4 yr Degree", "Advanced Degree", "Unknown")
  private val BuyPotentials = Seq("1001-5000", "0-500", ">10000",
    "5001-10000", "501-1000", "Unknown")
  private val Salutations = Seq("Mr.", "Mrs.", "Ms.", "Dr.", "Miss", "Sir")
  private val FirstNames = Seq("James", "Mary", "John", "Linda", "David",
    "Susan", "Paul", "Karen", "Mark", "Lisa", "Alan")
  private val LastNames = Seq("Smith", "Jones", "Brown", "Davis", "Wilson",
    "Moore", "Taylor", "White", "Clark")
  private val Counties = Seq("Williamson County", "Walker County",
    "Ziebach County", "Luce County")
  private val StreetNames = Seq("Main", "Oak", "Park", "Cedar", "Elm",
    "Maple")
  private val StreetTypes = Seq("Street", "Ave", "Blvd", "Ct")
  private val CityNames = Seq("Midway", "Fairview", "Oak Grove",
    "Five Points", "Centerville", "Riverside")

  /** The 16 colors q41's branches name, in its own pairing order (so a
    * branch's color pair is two adjacent indices); likewise the 16 unit
    * names and 6 sizes. q24 filters on yellow/almond — indices 0/1. */
  private val ColorNames = Seq("yellow", "almond", "antique", "aquamarine",
    "azure", "beige", "bisque", "black", "blanched", "blue", "blush",
    "brown", "burlywood", "burnished", "chartreuse", "chiffon")
  private val UnitNames = Seq("N/A", "Unknown", "Each", "Dozen", "Case",
    "Pallet", "Gross", "Carton", "Box", "Bunch", "Bundle", "Oz", "Lb",
    "Ton", "Ounce", "Pound")
  private val SizeNames = Seq("N/A", "petite", "small", "medium", "large",
    "extra large")
  private val LocationTypes = Seq("apartment", "condo", "single family")
  private val CreditRatings = Seq("Low Risk", "Good", "High Risk", "Unknown")
  private val CdRows = 14000L
  private val HdRows = 7200L
  private val PromoRows = 300L
  private val ReasonRows = 10L
  private val ReasonDescs = Seq("Package was damaged", "Wrong size",
    "Changed mind", "Arrived late", "Did not like the color",
    "Did not like the warranty", "Found a better price", "Gift exchange",
    "Duplicate purchase", "No reason given")
  private val WhRows = 5L
  private val InvWeeks = 344L
  private val SmRows = 20L
  private val WebRows = 10L
  private val WpRows = 100L
  private val CcRows = 6L
  private val CpRows = 50L
  private val ShipModeTypes = Seq("EXPRESS", "NEXT DAY", "OVERNIGHT",
    "REGULAR", "TWO DAY")
  private val Carriers = Seq("PRIVATECARRIER", "UPS", "DIAMOND", "JONES",
    "FEDEX")
  private val WebCompanies = Seq("pri", "able", "ese", "ought", "anti")

  /** Part-table row count per fixture dir, memoized: the count seeds the
    * inventory Range's bound, and `registerViews` runs again in every new
    * session and after every `Catalog.registerAnalyzed` (which unsets its
    * marker) — a metadata-only parquet count, but not worth a job each
    * time. */
  private val partCounts =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def partCount(spark: SparkSession, dir: String): Long =
    partCounts.getOrElseUpdate(dir, Catalog.load(spark, dir, "part").count())

  /** The seven adapter tables that cost a join or a shuffle to derive:
    * the five sales/returns facts (`lineitem ⋈ orders`) and `date_dim`
    * (the distinct order dates). Nothing is written here; [[generated]]
    * writes these frames once per fixture, and a spec compares them with
    * what the views read back. */
  private[operators] def derivedTables(spark: SparkSession, dir: String)
      : Seq[(String, DataFrame)] = {
    val lineitem = Catalog.load(spark, dir, "lineitem")
    val orders = Catalog.load(spark, dir, "orders")
    // catalog_sales / web_sales: disjoint l_linenumber slices of the same
    // fact (store keeps every line — it is the dominant channel in TPC-DS
    // too), with the store_sales price formulas under bill_/ship_ naming.
    // One projection builder, two channels; DuckDB mirrors via duckChannel.
    // each channel has its own unit-price divisor (store 10, catalog 9,
    // web 8): web lines are a subset of store lines, so an identical
    // formula would make q51's "web cumulative overtakes store" filter
    // empty by construction; the spread lets web-heavy item-dates win.
    // extMul is a per-channel markup on the EXT sales price (catalog
    // 2.85, web 3.1): each channel carries ~1/3 of the lines, so without
    // it store's per-item revenue is always ~3x a channel's and q58's
    // "all three channels within ±10%" band is empty by construction.
    def channelFact(p: String, lnMod: Int, priceDiv: Double,
        extMul: Double, extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame =
      lineitem.filter(col("l_linenumber") % 3 === lnMod)
        .join(orders, col("l_orderkey") === col("o_orderkey")).select(Seq(
          datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast(DateType))
            .cast(IntegerType).as(s"${p}_sold_date_sk"),
          ((col("l_orderkey") * 7919L + col("l_linenumber") * 101L) % 86400L)
            .as(s"${p}_sold_time_sk"),
          col("l_partkey").as(s"${p}_item_sk"),
          when(col("o_custkey") % 40 === 0, lit(null))
            .otherwise(col("o_custkey")).as(s"${p}_bill_customer_sk"),
          when(col("o_custkey") % 40 === 0, lit(null))
            .otherwise(col("o_custkey")).as(s"${p}_ship_customer_sk"),
          col("l_orderkey").as(s"${p}_order_number"),
          col("l_quantity").as(s"${p}_quantity"),
          floor(col("l_extendedprice") * extMul).cast(DoubleType)
            .as(s"${p}_ext_sales_price"),
          floor(col("l_extendedprice") / priceDiv).cast(DoubleType)
            .as(s"${p}_sales_price"),
          floor(col("l_extendedprice") / col("l_quantity")).cast(DoubleType)
            .as(s"${p}_list_price"),
          floor(col("l_extendedprice") * 1.2d).cast(DoubleType)
            .as(s"${p}_ext_list_price"),
          (floor(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))) -
            floor(col("l_extendedprice") * 0.85d)).cast(DoubleType)
            .as(s"${p}_net_profit"),
          floor(col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
            .cast(DoubleType).as(s"${p}_net_paid"),
          floor(col("l_extendedprice") * col("l_discount")).cast(DoubleType)
            .as(s"${p}_ext_discount_amt"),
          floor(col("l_extendedprice") * col("l_discount")).cast(DoubleType)
            .as(s"${p}_coupon_amt"),
          floor(col("l_extendedprice") * 0.8d / col("l_quantity"))
            .cast(DoubleType).as(s"${p}_wholesale_cost"),
          floor(col("l_extendedprice") * 0.8d).cast(DoubleType)
            .as(s"${p}_ext_wholesale_cost"),
          floor(col("l_extendedprice") * 0.08d).cast(DoubleType)
            .as(s"${p}_ext_tax"),
          ((col("l_partkey") + col("l_suppkey")) % PromoRows + 1L)
            .as(s"${p}_promo_sk"),
          ((col("o_custkey") * 17L + col("l_partkey")) % CdRows + 1L)
            .as(s"${p}_bill_cdemo_sk"),
          ((col("o_custkey") * 13L + col("l_orderkey")) % HdRows + 1L)
            .as(s"${p}_bill_hdemo_sk"),
          (col("o_custkey") % 25L).as(s"${p}_bill_addr_sk"),
          (col("o_custkey") % 25L).as(s"${p}_ship_addr_sk"),
          // shipping: the parcel leaves 1..150 days after the sale, from
          // a per-LINE warehouse (so one order spans warehouses — q94/q95
          // probe exactly that) via a per-line ship mode
          (datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast(DateType)) +
            lit(1) + (col("l_orderkey") * 17L + col("l_linenumber") * 7L) % 150L)
            .cast(IntegerType).as(s"${p}_ship_date_sk"),
          ((col("l_orderkey") + col("l_linenumber")) % WhRows + 1L)
            .as(s"${p}_warehouse_sk"),
          ((col("l_orderkey") * 3L + col("l_linenumber")) % SmRows + 1L)
            .as(s"${p}_ship_mode_sk"),
          ((col("o_custkey") * 13L + col("l_orderkey")) % HdRows + 1L)
            .as(s"${p}_ship_hdemo_sk"),
          floor(col("l_extendedprice") * 0.12d).cast(DoubleType)
            .as(s"${p}_ext_ship_cost")) ++ extra: _*)
    // catalog_returns / web_returns: the R-flagged rows of each channel's
    // slice, shaped like store_returns (return lands 0..149 days after
    // the sale). TPC-DS quirk preserved: catalog says cr_return_AMOUNT,
    // web says wr_return_AMT.
    def channelReturns(p: String, lnMod: Int, amtCol: String): DataFrame =
      lineitem.filter(col("l_linenumber") % 3 === lnMod &&
          col("l_returnflag") === "R")
        .join(orders, col("l_orderkey") === col("o_orderkey")).select(
          (datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast(DateType)) +
            (col("l_orderkey") * 31L) % 150L).cast(IntegerType)
            .as(s"${p}_returned_date_sk"),
          col("l_partkey").as(s"${p}_item_sk"),
          col("o_custkey").as(s"${p}_returning_customer_sk"),
          col("o_custkey").as(s"${p}_refunded_customer_sk"),
          col("l_orderkey").as(s"${p}_order_number"),
          floor(col("l_extendedprice") * 0.5d).cast(DoubleType).as(amtCol),
          floor(col("l_extendedprice") * 0.55d).cast(DoubleType)
            .as(s"${p}_return_amt_inc_tax"),
          floor(col("l_quantity") / 2).cast(DoubleType)
            .as(s"${p}_return_quantity"),
          floor(col("l_extendedprice") * 0.3d).cast(DoubleType)
            .as(s"${p}_net_loss"),
          (col("o_custkey") % 25L).as(s"${p}_returning_addr_sk"),
          (col("o_custkey") % 25L).as(s"${p}_refunded_addr_sk"),
          ((col("l_orderkey") + col("l_partkey")) % ReasonRows + 1L)
            .as(s"${p}_reason_sk"),
          ((col("l_orderkey") + col("o_custkey")) % CcRows + 1L)
            .as(s"${p}_call_center_sk"),
          floor(col("l_extendedprice") * 0.4d).cast(DoubleType)
            .as(s"${p}_refunded_cash"),
          // q64's cs_ui margin gate: refunded_cash + reversed_charge +
          // store_credit sums to (0.58..0.64)·price by partkey%7, so the
          // text's `sale > 2*refund` HAVING passes the deterministic
          // ~2/7 item slice with partkey%7 < 2 instead of all-or-nothing
          floor(col("l_extendedprice") *
              ((col("l_partkey") % 7L + 10L).cast(DoubleType) / 100.0d))
            .cast(DoubleType).as(s"${p}_reversed_charge"),
          floor(col("l_extendedprice") * 0.08d).cast(DoubleType)
            .as(s"${p}_store_credit"),
          floor(col("l_extendedprice") * 0.02d).cast(DoubleType)
            .as(s"${p}_fee"),
          // refunded = returning = the customer's CURRENT demographic
          // key (same formula as the customer view), so q85's cd1/cd2
          // marital+education equality joins hold by construction
          ((col("o_custkey") * 19L) % CdRows + 1L)
            .as(s"${p}_refunded_cdemo_sk"),
          ((col("o_custkey") * 19L) % CdRows + 1L)
            .as(s"${p}_returning_cdemo_sk"),
          // same formulas as the sales-side page keys: a return's page
          // is the page it was sold from (q5/q77/q80 union sales and
          // returns per page)
          ((col("l_orderkey") + col("o_custkey")) % WpRows + 1L)
            .as(s"${p}_web_page_sk"),
          ((col("l_orderkey") * 5L + col("l_linenumber")) % CpRows + 1L)
            .as(s"${p}_catalog_page_sk"))
    val storeSales = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast(DateType))
          .cast(IntegerType).as("ss_sold_date_sk"),
        col("l_partkey").as("ss_item_sk"),
        // 1-in-40 orders are anonymous (NULL customer) so q76's
        // IS NULL channel branches select a real deterministic slice
        when(col("o_custkey") % 40 === 0, lit(null))
          .otherwise(col("o_custkey")).as("ss_customer_sk"),
        col("l_suppkey").as("ss_store_sk"),
        floor(col("l_extendedprice")).cast(DoubleType).as("ss_ext_sales_price"),
        floor(col("l_extendedprice") / 10.0d).cast(DoubleType).as("ss_sales_price"),
        (floor(col("l_extendedprice") * (lit(1.0d) - col("l_discount"))) -
          floor(col("l_extendedprice") * 0.85d)).cast(DoubleType)
          .as("ss_net_profit"),
        col("l_quantity").as("ss_quantity"),
        floor(col("l_extendedprice") / col("l_quantity")).cast(DoubleType)
          .as("ss_list_price"),
        floor(col("l_extendedprice") * col("l_discount")).cast(DoubleType)
          .as("ss_coupon_amt"),
        ((col("o_custkey") * 17L + col("l_partkey")) % CdRows + 1L).as("ss_cdemo_sk"),
        ((col("o_custkey") * 13L + col("l_orderkey")) % HdRows + 1L).as("ss_hdemo_sk"),
        ((col("l_partkey") + col("l_suppkey")) % PromoRows + 1L).as("ss_promo_sk"),
        ((col("l_orderkey") * 7919L + col("l_linenumber") * 101L) % 86400L)
          .as("ss_sold_time_sk"),
        col("l_orderkey").as("ss_ticket_number"),
        (col("o_custkey") % 25L).as("ss_addr_sk"),
        floor(col("l_extendedprice") * 0.8d).cast(DoubleType)
          .as("ss_ext_wholesale_cost"),
        floor(col("l_extendedprice") * 0.8d / col("l_quantity"))
          .cast(DoubleType).as("ss_wholesale_cost"),
        floor(col("l_extendedprice") * 1.2d).cast(DoubleType)
          .as("ss_ext_list_price"),
        floor(col("l_extendedprice") * 0.08d).cast(DoubleType)
          .as("ss_ext_tax"),
        floor(col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
          .cast(DoubleType).as("ss_net_paid"),
        floor(col("l_extendedprice") * col("l_discount")).cast(DoubleType)
          .as("ss_ext_discount_amt"))
    // store_returns: the returned slice of the same fact (l_returnflag
    // 'R'), keyed like store_sales with a half-price return amount
    val storeReturns = lineitem.filter(col("l_returnflag") === "R")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast(DateType))
          .cast(IntegerType).as("sr_returned_date_sk"),
        col("l_partkey").as("sr_item_sk"),
        col("o_custkey").as("sr_customer_sk"),
        col("l_suppkey").as("sr_store_sk"),
        col("l_orderkey").as("sr_ticket_number"),
        floor(col("l_extendedprice") * 0.5d).cast(DoubleType).as("sr_return_amt"),
        floor(col("l_quantity") / 2).cast(DoubleType).as("sr_return_quantity"),
        ((col("l_orderkey") + col("l_partkey")) % ReasonRows + 1L)
          .as("sr_reason_sk"),
        // the returning customer's CURRENT demographic key (same formula
        // as the customer view), so q84's sr_cdemo_sk = c_current_cdemo_sk
        // chain finds that customer's returns
        ((col("o_custkey") * 19L) % CdRows + 1L).as("sr_cdemo_sk"),
        floor(col("l_extendedprice") * 0.3d).cast(DoubleType)
          .as("sr_net_loss"))
      // the return lands 0..149 days after the sale (orderkey-derived),
      // so q50's day-bucket arithmetic exercises every band; a return
      // date with no order on it simply finds no date_dim row — the
      // same deterministic drop on both engines
      .withColumn("sr_returned_date_sk",
        (col("sr_returned_date_sk") +
          (col("sr_ticket_number") * 31L) % 150L).cast(IntegerType))
    val dateDim = orders.select(to_date(col("o_orderdate")).as("d")).distinct()
      .select(
        datediff(col("d"), lit("1970-01-01").cast(DateType))
          .cast(IntegerType).as("d_date_sk"),
        col("d").as("d_date"),
        year(col("d")).cast(IntegerType).as("d_year"),
        month(col("d")).cast(IntegerType).as("d_moy"),
        date_format(col("d"), "EEEE").as("d_day_name"),
        (datediff(col("d"), lit("1970-01-01").cast(DateType))
          .cast(IntegerType) / 7).cast(IntegerType).as("d_week_seq"),
        ((year(col("d")) - 1900) * 12 + month(col("d")) - 1)
          .cast(IntegerType).as("d_month_seq"),
        ((month(col("d")) - 1) / 3 + 1).cast(IntegerType).as("d_qoy"),
        dayofmonth(col("d")).cast(IntegerType).as("d_dom"),
        // 0=Sunday..6=Saturday from the epoch-day integer (1970-01-01
        // was a Thursday), engine-independent by construction
        ((datediff(col("d"), lit("1970-01-01").cast(DateType)) + 4) % 7)
          .cast(IntegerType).as("d_dow"),
        concat(year(col("d")).cast(StringType), lit("Q"),
          (((month(col("d")) - 1) / 3 + 1).cast(IntegerType)).cast(StringType))
          .as("d_quarter_name"))
    Seq("store_sales" -> storeSales, "store_returns" -> storeReturns,
      "catalog_sales" -> channelFact("cs", 1, 9.0d, 2.85d, Seq(
        ((col("l_orderkey") + col("o_custkey")) % CcRows + 1L)
          .as("cs_call_center_sk"),
        ((col("l_orderkey") * 5L + col("l_linenumber")) % CpRows + 1L)
          .as("cs_catalog_page_sk"))),
      "web_sales" -> channelFact("ws", 2, 8.0d, 3.1d, Seq(
        (col("l_orderkey") % WebRows + 1L).as("ws_web_site_sk"),
        ((col("l_orderkey") + col("o_custkey")) % WpRows + 1L)
          .as("ws_web_page_sk"))),
      "catalog_returns" -> channelReturns("cr", 1, "cr_return_amount"),
      "web_returns" -> channelReturns("wr", 2, "wr_return_amt"),
      "date_dim" -> dateDim)
  }

  /** One generation of a fixture, as the derived tables see it: the
    * [[Catalog.stamp]]s of the two files they read. A fixture rewritten in
    * place is a new generation. */
  private final case class Fixture(lineitem: Catalog.Stamp, orders: Catalog.Stamp)
  private def fixture(spark: SparkSession, dir: String): Fixture =
    Fixture(Catalog.stamp(spark, dir, "lineitem"), Catalog.stamp(spark, dir, "orders"))

  /** The derived tables of one fixture generation, written as
    * `<dir>/<name>.parquet`, each with the schema it was written with. */
  private[operators] final case class Generation(dir: String,
      tables: Seq[(String, StructType)]) {
    def path(name: String): String = s"$dir/$name.parquet"
  }

  /** Root of this JVM's generations, deleted when the JVM exits. */
  private lazy val generatedRoot: java.io.File = {
    val root = java.nio.file.Files.createTempDirectory("graft-tpcds-").toFile
    sys.addShutdownHook(org.apache.hadoop.fs.FileUtil.fullyDelete(root))
    root
  }
  private val generations =
    scala.collection.mutable.Map.empty[Fixture, Generation]

  /** `dir`'s derived tables as parquet files, written on the first call
    * for its fixture generation in this JVM and reused by every later
    * session (the reference likewise runs its queries over tables that
    * dsdgen wrote once before the run). Synchronized, so concurrent
    * sessions wait for one writer. */
  private[operators] def generated(spark: SparkSession, dir: String)
      : Generation = synchronized {
    generations.getOrElseUpdate(fixture(spark, dir), {
      val gen = new java.io.File(generatedRoot, s"g${generations.size}").getPath
      Generation(gen, derivedTables(spark, dir).map { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$gen/$name.parquet")
        name -> df.schema
      })
    })
  }

  /** Register the TPC-DS-named views over the fixture tables: the seven
    * [[derivedTables]] read from their generated files with the schema
    * they were written with (no inference job), the other 17 as
    * projections of one fixture table or of `spark.range` — those cost no
    * join or shuffle, and writing the 3.4M-row inventory range would cost
    * more than generating it. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    val gen = generated(spark, dir)
    // memoized per (session, fixture generation): ~24 adapter view plans
    // are identical across the 100+ literal queries, and each call used
    // to rebuild them all inside the bench's timed region (~0.2-0.4 s per
    // query). The marker is unset by ANY path that drops/re-registers
    // fixture-name temp views (Catalog.invalidateAdapterViews — these
    // views shadow `customer`), so a skip can never see a clobbered name.
    val marker = "graft.views.tpcds.dir"
    if (spark.conf.getOption(marker).contains(gen.dir)) return
    // the TPC-H adapter shadows `lineitem`/`customer`/`part`/`orders`;
    // re-registering ours invalidates theirs (customer collides)
    spark.conf.unset("graft.views.tpch.dir")
    gen.tables.foreach { case (name, schema) =>
      spark.read.schema(schema).parquet(gen.path(name))
        .createOrReplaceTempView(name)
    }
    val part = Catalog.load(spark, dir, "part")
    // NOTE: shadows the fixture's `customer` name with the TPC-DS-shaped
    // columns. Safe session-wide: every fixture SQL query goes through
    // Catalog.registerAnalyzed, which drops fixture-named temp views on
    // every call, and DataFrame-API queries read the parquet directly.
    Catalog.load(spark, dir, "customer")
      .select(col("c_custkey").as("c_customer_sk"),
        concat(lit("cust_"), col("c_custkey").cast(StringType))
          .as("c_customer_id"),
        col("c_nationkey").as("c_current_addr_sk"),
        element_at(array(FirstNames.map(lit): _*),
          (col("c_custkey") % 11).cast(IntegerType) + 1).as("c_first_name"),
        element_at(array(LastNames.map(lit): _*),
          (col("c_custkey") % 9).cast(IntegerType) + 1).as("c_last_name"),
        element_at(array(Salutations.map(lit): _*),
          (col("c_custkey") % 6).cast(IntegerType) + 1).as("c_salutation"),
        when(col("c_custkey") % 2 === 0, "Y").otherwise("N")
          .as("c_preferred_cust_flag"),
        // every fixture customer is US-born, so q24's
        // `c_birth_country = upper(ca_country)` keeps all rows —
        // the join's selectivity lives in s_zip = ca_zip instead
        lit("UNITED STATES").as("c_birth_country"),
        ((col("c_custkey") * 19L) % CdRows + 1L).as("c_current_cdemo_sk"),
        ((col("c_custkey") * 23L) % HdRows + 1L).as("c_current_hdemo_sk"),
        // q64's d2/d3 joins: first-sale / first-shipto day_sks scattered
        // over the fixture's 1995-2001 order span (epoch days
        // 9131..11535); a custkey whose day drew a date with no order
        // finds no date_dim row — the same deterministic drop on both
        // engines (date_dim holds only the distinct order dates)
        (lit(9131L) + (col("c_custkey") * 53L) % 2405L)
          .as("c_first_sales_date_sk"),
        (lit(9131L) + (col("c_custkey") * 53L + 30L) % 2405L)
          .as("c_first_shipto_date_sk"),
        // NULL like real TPC-DS's always-empty c_login
        lit(null).cast(StringType).as("c_login"),
        concat(lit("cust_"), col("c_custkey").cast(StringType),
          lit("@example.com")).as("c_email_address"),
        ((col("c_custkey") * 7) % 28 + 1).cast(IntegerType).as("c_birth_day"),
        ((col("c_custkey") * 11) % 12 + 1).cast(IntegerType).as("c_birth_month"),
        (lit(1924) + (col("c_custkey") * 13) % 68).cast(IntegerType)
          .as("c_birth_year"),
        (lit(2450000L) + col("c_custkey") % 1000L).cast(StringType)
          .as("c_last_review_date"))
      .createOrReplaceTempView("customer")
    Catalog.load(spark, dir, "nation")
      .select(col("n_nationkey").as("ca_address_sk"),
        element_at(TpcDsStates, (col("n_nationkey") % 5).cast(IntegerType) + 1)
          .as("ca_state"),
        lit("United States").as("ca_country"),
        (lit(10000L) + col("n_nationkey") * 137L).cast(StringType).as("ca_zip"),
        element_at(array(CityNames.map(lit): _*),
          (col("n_nationkey") % 6).cast(IntegerType) + 1).as("ca_city"),
        // -6/-5 (store keeps -5/-4): q33/q56/q60 filter ca_gmt = -5,
        // q91 filters -6 — both slices must exist
        (lit(-6) + (col("n_nationkey") % 2)).cast(IntegerType)
          .as("ca_gmt_offset"),
        element_at(array(Counties.map(lit): _*),
          (col("n_nationkey") % 4).cast(IntegerType) + 1).as("ca_county"),
        ((col("n_nationkey") * 3) % 999).cast(StringType)
          .as("ca_street_number"),
        element_at(array(StreetNames.map(lit): _*),
          (col("n_nationkey") % 6).cast(IntegerType) + 1).as("ca_street_name"),
        element_at(array(StreetTypes.map(lit): _*),
          (col("n_nationkey") % 4).cast(IntegerType) + 1).as("ca_street_type"),
        concat(lit("Suite "), ((col("n_nationkey") % 10) * 10).cast(StringType))
          .as("ca_suite_number"),
        element_at(array(LocationTypes.map(lit): _*),
          (col("n_nationkey") % 3).cast(IntegerType) + 1)
          .as("ca_location_type"))
      .createOrReplaceTempView("customer_address")
    Catalog.load(spark, dir, "supplier")
      .select(col("s_suppkey").as("s_store_sk"),
        concat(lit("store_"), col("s_suppkey").cast(StringType)).as("s_store_id"),
        // exactly ONE store carries the TPC-DS template name 'ese' (q96's
        // filter); every other name stays unique so ORDER BY s_store_name
        // ... LIMIT cuts (q65) never tie at the boundary
        when(col("s_suppkey") === 3, "ese")
          .otherwise(concat(lit("Store#"), col("s_suppkey").cast(StringType)))
          .as("s_store_name"),
        lit("Unknown").as("s_company_name"),
        element_at(TpcDsStates, (col("s_suppkey") % 5).cast(IntegerType) + 1)
          .as("s_state"),
        element_at(array(Counties.map(lit): _*),
          (col("s_suppkey") % 4).cast(IntegerType) + 1).as("s_county"),
        (lit(10000L) + col("s_nationkey") * 137L).cast(StringType).as("s_zip"),
        (col("s_suppkey") % 5 + 1).cast(IntegerType).as("s_company_id"),
        (col("s_suppkey") % 999).cast(StringType).as("s_street_number"),
        element_at(array(StreetNames.map(lit): _*),
          (col("s_suppkey") % 6).cast(IntegerType) + 1).as("s_street_name"),
        element_at(array(StreetTypes.map(lit): _*),
          (col("s_suppkey") % 4).cast(IntegerType) + 1).as("s_street_type"),
        concat(lit("Suite "), ((col("s_suppkey") % 10) * 10).cast(StringType))
          .as("s_suite_number"),
        element_at(array(CityNames.map(lit): _*),
          (col("s_suppkey") % 6).cast(IntegerType) + 1).as("s_city"),
        // -6/-5: q43 filters s_gmt = -5, q61 filters -6 — both slices
        // must exist (mirrors customer_address's -6/-5 split)
        (lit(-6) + (col("s_suppkey") % 2)).cast(IntegerType).as("s_gmt_offset"),
        (lit(200) + (col("s_suppkey") * 7) % 100).cast(IntegerType)
          .as("s_number_employees"),
        ((col("s_suppkey") % 10) + 1).cast(IntegerType).as("s_market_id"))
      .createOrReplaceTempView("store")
    // synthesized dimension enumerations: range(n) + modulo-indexed
    // vocabularies, identical row-for-row to the DuckDB CTE mirrors
    spark.range(CdRows).select(
        (col("id") + 1L).as("cd_demo_sk"),
        when(col("id") % 2 === 0, "M").otherwise("F").as("cd_gender"),
        element_at(array(MaritalStatuses.map(lit): _*),
          ((col("id") / 2) % 5).cast(IntegerType) + 1).as("cd_marital_status"),
        element_at(array(EducationStatuses.map(lit): _*),
          ((col("id") / 10) % 7).cast(IntegerType) + 1).as("cd_education_status"),
        (((col("id") / 70).cast(LongType) % 20 + 1) * 500).cast(IntegerType)
          .as("cd_purchase_estimate"),
        element_at(array(CreditRatings.map(lit): _*),
          ((col("id") / 140).cast(LongType) % 4).cast(IntegerType) + 1)
          .as("cd_credit_rating"),
        // DOUBLE, not INT: the q35 family sums these, and DuckDB sums
        // every integer width to HUGEINT while Spark says BIGINT
        (col("id") % 7).cast(DoubleType).as("cd_dep_count"),
        ((col("id") / 7).cast(LongType) % 7).cast(DoubleType)
          .as("cd_dep_employed_count"),
        ((col("id") / 49).cast(LongType) % 7).cast(DoubleType)
          .as("cd_dep_college_count"))
      .createOrReplaceTempView("customer_demographics")
    spark.range(HdRows).select(
        (col("id") + 1L).as("hd_demo_sk"),
        (col("id") % 10).cast(IntegerType).as("hd_dep_count"),
        (col("id") % 6).cast(IntegerType).as("hd_vehicle_count"),
        element_at(array(BuyPotentials.map(lit): _*),
          ((col("id") / 10) % 6).cast(IntegerType) + 1).as("hd_buy_potential"),
        (col("id") % 20 + 1L).as("hd_income_band_sk"))
      .createOrReplaceTempView("household_demographics")
    spark.range(20L).select(
        (col("id") + 1L).as("ib_income_band_sk"),
        (col("id") * 10000L).as("ib_lower_bound"),
        (col("id") * 10000L + 9999L).as("ib_upper_bound"))
      .createOrReplaceTempView("income_band")
    spark.range(ReasonRows).select(
        (col("id") + 1L).as("r_reason_sk"),
        element_at(array(ReasonDescs.map(lit): _*),
          (col("id") % ReasonDescs.size).cast(IntegerType) + 1)
          .as("r_reason_desc"))
      .createOrReplaceTempView("reason")
    spark.range(86400L).select(
        col("id").as("t_time_sk"),
        col("id").as("t_time"),
        (col("id") / 3600).cast(IntegerType).as("t_hour"),
        ((col("id") % 3600) / 60).cast(IntegerType).as("t_minute"),
        (col("id") % 60).cast(IntegerType).as("t_second"),
        // wide meal windows (6h each): q71's meal-time slice of the
        // uniform sold-time hash must survive its 2% manager filter
        when((col("id") / 3600).cast(IntegerType).between(5, 10), "breakfast")
          .when((col("id") / 3600).cast(IntegerType).between(17, 22), "dinner")
          .otherwise(lit(null)).as("t_meal_time"))
      .createOrReplaceTempView("time_dim")
    spark.range(WhRows).select(
        (col("id") + 1L).as("w_warehouse_sk"),
        concat(lit("Warehouse#"), (col("id") + 1L).cast(StringType))
          .as("w_warehouse_name"),
        ((col("id") + 1L) * 1000L).as("w_warehouse_sq_ft"),
        element_at(array(CityNames.map(lit): _*),
          (col("id") % 6).cast(IntegerType) + 1).as("w_city"),
        element_at(array(Counties.map(lit): _*),
          (col("id") % 4).cast(IntegerType) + 1).as("w_county"),
        element_at(TpcDsStates, (col("id") % 5).cast(IntegerType) + 1)
          .as("w_state"),
        lit("United States").as("w_country"))
      .createOrReplaceTempView("warehouse")
    spark.range(SmRows).select(
        (col("id") + 1L).as("sm_ship_mode_sk"),
        element_at(array(ShipModeTypes.map(lit): _*),
          (col("id") % 5).cast(IntegerType) + 1).as("sm_type"),
        element_at(array(Carriers.map(lit): _*),
          ((col("id") / 5) % 5).cast(IntegerType) + 1).as("sm_carrier"),
        concat(lit("code_"), col("id").cast(StringType)).as("sm_code"))
      .createOrReplaceTempView("ship_mode")
    spark.range(WebRows).select(
        (col("id") + 1L).as("web_site_sk"),
        concat(lit("web_"), (col("id") + 1L).cast(StringType))
          .as("web_site_id"),
        concat(lit("site_"), (col("id") + 1L).cast(StringType)).as("web_name"),
        element_at(array(WebCompanies.map(lit): _*),
          (col("id") % 5).cast(IntegerType) + 1).as("web_company_name"))
      .createOrReplaceTempView("web_site")
    spark.range(WpRows).select(
        (col("id") + 1L).as("wp_web_page_sk"),
        (lit(4800L) + (col("id") % 50) * 10L).as("wp_char_count"))
      .createOrReplaceTempView("web_page")
    spark.range(CcRows).select(
        (col("id") + 1L).as("cc_call_center_sk"),
        concat(lit("cc_"), (col("id") + 1L).cast(StringType))
          .as("cc_call_center_id"),
        concat(lit("center_"), (col("id") + 1L).cast(StringType)).as("cc_name"),
        element_at(array(FirstNames.map(lit): _*),
          (col("id") % 11).cast(IntegerType) + 1).as("cc_manager"),
        element_at(array(Counties.map(lit): _*),
          (col("id") % 4).cast(IntegerType) + 1).as("cc_county"))
      .createOrReplaceTempView("call_center")
    spark.range(PromoRows).select(
        (col("id") + 1L).as("p_promo_sk"),
        when(col("id") % 2 === 0, "N").otherwise("Y").as("p_channel_email"),
        when(col("id") % 3 === 0, "N").otherwise("Y").as("p_channel_event"),
        when(col("id") % 5 === 0, "Y").otherwise("N").as("p_channel_dmail"),
        when(col("id") % 7 === 0, "Y").otherwise("N").as("p_channel_tv"))
      .createOrReplaceTempView("promotion")
    spark.range(CpRows).select(
        (col("id") + 1L).as("cp_catalog_page_sk"),
        concat(lit("page_"), (col("id") + 1L).cast(StringType))
          .as("cp_catalog_page_id"))
      .createOrReplaceTempView("catalog_page")
    // Weekly on-hand snapshots: every part x 5 warehouses x 344 Sundays
    // from 1995-01-01 (day_sk 9131). Generated as one flat Range
    // (id = p_partkey * 1720 + g) rather than an explode over the part
    // scan: identical rows (p_partkey is the fixture's contiguous 0..n-1
    // enumeration), but Range splits across every core — the part
    // parquet is one file, so a Generate over it ran the whole 34M-row
    // expansion (and everything fused above it) in a single task at
    // sf0.1 — and carries an exact rowCount statistic, so the planner
    // sees the true size instead of a part-scan-sized underestimate
    // (which at sf0.1 broadcast a 34M-row build side). Quantities walk a
    // mod-97 cycle: 80% land in a dense 100..485 band (q37/q82's
    // "between 100 and 500" window) and 20% spike 0..7200 so
    // per-(item, month) groups clear q39's cov > 1 variance gate.
    val perPart = WhRows * InvWeeks
    val invPk = expr(s"id DIV $perPart")
    val invG = col("id") % perPart
    val invH = invPk * 31L + (invG % 5L + 1L) * 7L +
      (lit(9131L) + floor(invG / 5L) * 7L) * 13L
    spark.range(partCount(spark, dir) * perPart)
      .select(
        invPk.as("inv_item_sk"),
        (invG % 5L + 1L).as("inv_warehouse_sk"),
        (lit(9131L) + floor(invG / 5L) * 7L).cast(IntegerType)
          .as("inv_date_sk"),
        when(invH % 97L < 78L, lit(100L) + (invH % 97L) * 5L)
          .otherwise((invH % 97L - 78L) * 400L)
          .cast(DoubleType).as("inv_quantity_on_hand"))
      .createOrReplaceTempView("inventory")
    part.select(
        col("p_partkey").as("i_item_sk"),
        concat(lit("item_"), col("p_partkey").cast(StringType)).as("i_item_id"),
        col("p_name").as("i_item_desc"),
        element_at(TpcDsBrands, (col("p_partkey") % 16).cast(IntegerType) + 1)
          .as("i_brand"),
        ((col("p_partkey") % 16) + 1).cast(IntegerType).as("i_brand_id"),
        element_at(TpcDsCategories, (col("p_partkey") % 10).cast(IntegerType) + 1)
          .as("i_category"),
        ((col("p_partkey") % 10) + 1).cast(IntegerType).as("i_category_id"),
        element_at(TpcDsClasses, (col("p_partkey") % 13).cast(IntegerType) + 1)
          .as("i_class"),
        ((col("p_partkey") % 13) + 1).cast(IntegerType).as("i_class_id"),
        // quarter-multiples 0..99.75 (uniform via the 7919 prime walk)
        // with a 5% spike at 1.25: the inventory-family texts (q21/q37/
        // q40/q82) filter sub-100 absolute price windows (e.g. "between
        // 0.99 and 1.49"), and a uniform spread keeps q6's relative
        // "price > 1.2 x category average" filter selective (~40% clear)
        when(col("p_partkey") % 20 === 7, 1.25d)
          .otherwise(((col("p_partkey") * 7919L) % 400L) * 0.25d)
          .cast(DoubleType).as("i_current_price"),
        (floor(col("p_retailprice")) * 0.5d).as("i_wholesale_cost"),
        (col("p_partkey") % 50).cast(IntegerType).as("i_manager_id"),
        // manufact_id spans 0..999 so q41's `between 667 and 707` outer
        // filter has a real window; the manufact NAME groups 1% of items
        // (pk % 100) so a correlated manufacturer has ~20 items at
        // sf0.01 — enough for q41's conjunctive attribute branches to
        // find a sibling (name and id are deliberately decoupled, like
        // real TPC-DS where a manufact name carries many items)
        (col("p_partkey") % 1000).cast(IntegerType).as("i_manufact_id"),
        concat(lit("Mfg#"), (col("p_partkey") % 100).cast(IntegerType).cast(StringType))
          .as("i_manufact"),
        col("p_name").as("i_product_name"),
        // attribute cycles with periods 7/3/5 against the vocab sizes
        // 16/16/6: pairwise non-aligned, so q41/q24's conjunctive
        // (category, color, units, size) branches each select a small
        // deterministic nonempty slice (simulated: 10 inner matches,
        // 6 result items at sf0.01)
        element_at(array(ColorNames.map(lit): _*),
          ((col("p_partkey") / 7).cast(LongType) % 16).cast(IntegerType) + 1)
          .as("i_color"),
        element_at(array(UnitNames.map(lit): _*),
          ((col("p_partkey") / 3).cast(LongType) % 16).cast(IntegerType) + 1)
          .as("i_units"),
        element_at(array(SizeNames.map(lit): _*),
          ((col("p_partkey") / 5).cast(LongType) % 6).cast(IntegerType) + 1)
          .as("i_size"))
      .createOrReplaceTempView("item")
    spark.conf.set(marker, gen.dir)
  }

  /** DuckDB mirror of `channelFact` — same projection battery under the
    * channel's prefix, same l_linenumber slice. */
  private def duckChannel(p: String, lnMod: Int, priceDiv: Int,
      extMul: String, extra: String = ""): String =
    s"""  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS ${p}_sold_date_sk,
      |    (l_orderkey * 7919 + l_linenumber * 101) % 86400 AS ${p}_sold_time_sk,
      |    l_partkey AS ${p}_item_sk,
      |    CASE WHEN o_custkey % 40 = 0 THEN NULL ELSE o_custkey END AS ${p}_bill_customer_sk,
      |    CASE WHEN o_custkey % 40 = 0 THEN NULL ELSE o_custkey END AS ${p}_ship_customer_sk,
      |    l_orderkey AS ${p}_order_number,
      |    l_quantity AS ${p}_quantity,
      |    CAST(floor(l_extendedprice * $extMul) AS DOUBLE) AS ${p}_ext_sales_price,
      |    CAST(floor(l_extendedprice / $priceDiv) AS DOUBLE) AS ${p}_sales_price,
      |    CAST(floor(l_extendedprice / l_quantity) AS DOUBLE) AS ${p}_list_price,
      |    CAST(floor(l_extendedprice * 1.2) AS DOUBLE) AS ${p}_ext_list_price,
      |    CAST(floor(l_extendedprice * (1.0 - l_discount))
      |      - floor(l_extendedprice * 0.85) AS DOUBLE) AS ${p}_net_profit,
      |    CAST(floor(l_extendedprice * (1.0 - l_discount)) AS DOUBLE) AS ${p}_net_paid,
      |    CAST(floor(l_extendedprice * l_discount) AS DOUBLE) AS ${p}_ext_discount_amt,
      |    CAST(floor(l_extendedprice * l_discount) AS DOUBLE) AS ${p}_coupon_amt,
      |    CAST(floor(l_extendedprice * 0.8 / l_quantity) AS DOUBLE) AS ${p}_wholesale_cost,
      |    CAST(floor(l_extendedprice * 0.8) AS DOUBLE) AS ${p}_ext_wholesale_cost,
      |    CAST(floor(l_extendedprice * 0.08) AS DOUBLE) AS ${p}_ext_tax,
      |    (l_partkey + l_suppkey) % $PromoRows + 1 AS ${p}_promo_sk,
      |    (o_custkey * 17 + l_partkey) % $CdRows + 1 AS ${p}_bill_cdemo_sk,
      |    (o_custkey * 13 + l_orderkey) % $HdRows + 1 AS ${p}_bill_hdemo_sk,
      |    o_custkey % 25 AS ${p}_bill_addr_sk,
      |    o_custkey % 25 AS ${p}_ship_addr_sk,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      + 1 + (l_orderkey * 17 + l_linenumber * 7) % 150 AS INT) AS ${p}_ship_date_sk,
      |    (l_orderkey + l_linenumber) % $WhRows + 1 AS ${p}_warehouse_sk,
      |    (l_orderkey * 3 + l_linenumber) % $SmRows + 1 AS ${p}_ship_mode_sk,
      |    (o_custkey * 13 + l_orderkey) % $HdRows + 1 AS ${p}_ship_hdemo_sk,
      |    CAST(floor(l_extendedprice * 0.12) AS DOUBLE) AS ${p}_ext_ship_cost$extra
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_linenumber % 3 = $lnMod""".stripMargin

  /** DuckDB mirror of `channelReturns`. */
  private def duckReturns(p: String, lnMod: Int, amtCol: String): String =
    s"""  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      + (l_orderkey * 31) % 150 AS INT) AS ${p}_returned_date_sk,
      |    l_partkey AS ${p}_item_sk,
      |    o_custkey AS ${p}_returning_customer_sk,
      |    o_custkey AS ${p}_refunded_customer_sk,
      |    l_orderkey AS ${p}_order_number,
      |    CAST(floor(l_extendedprice * 0.5) AS DOUBLE) AS $amtCol,
      |    CAST(floor(l_extendedprice * 0.55) AS DOUBLE) AS ${p}_return_amt_inc_tax,
      |    CAST(floor(l_quantity / 2) AS DOUBLE) AS ${p}_return_quantity,
      |    CAST(floor(l_extendedprice * 0.3) AS DOUBLE) AS ${p}_net_loss,
      |    o_custkey % 25 AS ${p}_returning_addr_sk,
      |    o_custkey % 25 AS ${p}_refunded_addr_sk,
      |    (l_orderkey + l_partkey) % $ReasonRows + 1 AS ${p}_reason_sk,
      |    (l_orderkey + o_custkey) % $CcRows + 1 AS ${p}_call_center_sk,
      |    CAST(floor(l_extendedprice * 0.4) AS DOUBLE) AS ${p}_refunded_cash,
      |    CAST(floor(l_extendedprice * (CAST(l_partkey % 7 + 10 AS DOUBLE) / 100.0)) AS DOUBLE) AS ${p}_reversed_charge,
      |    CAST(floor(l_extendedprice * 0.08) AS DOUBLE) AS ${p}_store_credit,
      |    CAST(floor(l_extendedprice * 0.02) AS DOUBLE) AS ${p}_fee,
      |    (o_custkey * 19) % $CdRows + 1 AS ${p}_refunded_cdemo_sk,
      |    (o_custkey * 19) % $CdRows + 1 AS ${p}_returning_cdemo_sk,
      |    (l_orderkey + o_custkey) % $WpRows + 1 AS ${p}_web_page_sk,
      |    (l_orderkey * 5 + l_linenumber) % $CpRows + 1 AS ${p}_catalog_page_sk
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_linenumber % 3 = $lnMod AND l_returnflag = 'R'""".stripMargin

  /** The same views as DuckDB CTE text, prepended to each oracle. */
  private val duckViews: String =
    s"""catalog_sales AS (
      |${duckChannel("cs", 1, 9, "2.85", s""",
      |    (l_orderkey + o_custkey) % $CcRows + 1 AS cs_call_center_sk,
      |    (l_orderkey * 5 + l_linenumber) % $CpRows + 1 AS cs_catalog_page_sk""")}),
      |web_sales AS (
      |${duckChannel("ws", 2, 8, "3.1", s""",
      |    l_orderkey % $WebRows + 1 AS ws_web_site_sk,
      |    (l_orderkey + o_custkey) % $WpRows + 1 AS ws_web_page_sk""")}),
      |catalog_returns AS (
      |${duckReturns("cr", 1, "cr_return_amount")}),
      |web_returns AS (
      |${duckReturns("wr", 2, "wr_return_amt")}),
      |store_sales AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS INT) AS ss_sold_date_sk,
      |    l_partkey AS ss_item_sk,
      |    CASE WHEN o_custkey % 40 = 0 THEN NULL ELSE o_custkey END AS ss_customer_sk,
      |    l_suppkey AS ss_store_sk,
      |    CAST(floor(l_extendedprice) AS DOUBLE) AS ss_ext_sales_price,
      |    CAST(floor(l_extendedprice / 10) AS DOUBLE) AS ss_sales_price,
      |    CAST(floor(l_extendedprice * (1.0 - l_discount))
      |      - floor(l_extendedprice * 0.85) AS DOUBLE) AS ss_net_profit,
      |    l_quantity AS ss_quantity,
      |    CAST(floor(l_extendedprice / l_quantity) AS DOUBLE) AS ss_list_price,
      |    CAST(floor(l_extendedprice * l_discount) AS DOUBLE) AS ss_coupon_amt,
      |    (o_custkey * 17 + l_partkey) % $CdRows + 1 AS ss_cdemo_sk,
      |    (o_custkey * 13 + l_orderkey) % $HdRows + 1 AS ss_hdemo_sk,
      |    (l_partkey + l_suppkey) % $PromoRows + 1 AS ss_promo_sk,
      |    (l_orderkey * 7919 + l_linenumber * 101) % 86400 AS ss_sold_time_sk,
      |    l_orderkey AS ss_ticket_number,
      |    o_custkey % 25 AS ss_addr_sk,
      |    CAST(floor(l_extendedprice * 0.8) AS DOUBLE) AS ss_ext_wholesale_cost,
      |    CAST(floor(l_extendedprice * 0.8 / l_quantity) AS DOUBLE) AS ss_wholesale_cost,
      |    CAST(floor(l_extendedprice * 1.2) AS DOUBLE) AS ss_ext_list_price,
      |    CAST(floor(l_extendedprice * 0.08) AS DOUBLE) AS ss_ext_tax,
      |    CAST(floor(l_extendedprice * (1.0 - l_discount)) AS DOUBLE) AS ss_net_paid,
      |    CAST(floor(l_extendedprice * l_discount) AS DOUBLE) AS ss_ext_discount_amt
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |store_returns AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |      + (l_orderkey * 31) % 150 AS INT) AS sr_returned_date_sk,
      |    l_partkey AS sr_item_sk,
      |    o_custkey AS sr_customer_sk,
      |    l_suppkey AS sr_store_sk,
      |    l_orderkey AS sr_ticket_number,
      |    CAST(floor(l_extendedprice * 0.5) AS DOUBLE) AS sr_return_amt,
      |    CAST(floor(l_quantity / 2) AS DOUBLE) AS sr_return_quantity,
      |    (l_orderkey + l_partkey) % $ReasonRows + 1 AS sr_reason_sk,
      |    (o_custkey * 19) % $CdRows + 1 AS sr_cdemo_sk,
      |    CAST(floor(l_extendedprice * 0.3) AS DOUBLE) AS sr_net_loss
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_returnflag = 'R'),
      |date_dim AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS INT) AS d_date_sk,
      |    d AS d_date,
      |    CAST(EXTRACT(YEAR FROM d) AS INT) AS d_year,
      |    CAST(EXTRACT(MONTH FROM d) AS INT) AS d_moy,
      |    dayname(d) AS d_day_name,
      |    CAST(date_diff('day', DATE '1970-01-01', d) // 7 AS INT) AS d_week_seq,
      |    CAST((EXTRACT(YEAR FROM d) - 1900) * 12 + EXTRACT(MONTH FROM d) - 1 AS INT) AS d_month_seq,
      |    CAST((EXTRACT(MONTH FROM d) - 1) // 3 + 1 AS INT) AS d_qoy,
      |    CAST(EXTRACT(DAY FROM d) AS INT) AS d_dom,
      |    CAST((date_diff('day', DATE '1970-01-01', d) + 4) % 7 AS INT) AS d_dow,
      |    CAST(EXTRACT(YEAR FROM d) AS VARCHAR) || 'Q' ||
      |      CAST(CAST((EXTRACT(MONTH FROM d) - 1) // 3 + 1 AS INT) AS VARCHAR) AS d_quarter_name
      |  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)),
      |item AS (
      |  SELECT p_partkey AS i_item_sk,
      |    'item_' || CAST(p_partkey AS VARCHAR) AS i_item_id,
      |    p_name AS i_item_desc,
      |    (${BrandNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(p_partkey % 16 AS INT) + 1] AS i_brand,
      |    CAST(p_partkey % 16 + 1 AS INT) AS i_brand_id,
      |    (${CategoryNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(p_partkey % 10 AS INT) + 1] AS i_category,
      |    CAST(p_partkey % 10 + 1 AS INT) AS i_category_id,
      |    (${ClassNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(p_partkey % 13 AS INT) + 1] AS i_class,
      |    CAST(p_partkey % 13 + 1 AS INT) AS i_class_id,
      |    CAST(CASE WHEN p_partkey % 20 = 7 THEN 1.25 ELSE ((p_partkey * 7919) % 400) * 0.25 END AS DOUBLE) AS i_current_price,
      |    floor(p_retailprice) * 0.5 AS i_wholesale_cost,
      |    CAST(p_partkey % 50 AS INT) AS i_manager_id,
      |    CAST(p_partkey % 1000 AS INT) AS i_manufact_id,
      |    'Mfg#' || CAST(CAST(p_partkey % 100 AS INT) AS VARCHAR) AS i_manufact,
      |    p_name AS i_product_name,
      |    (${ColorNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST((p_partkey // 7) % 16 AS INT) + 1] AS i_color,
      |    (${UnitNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST((p_partkey // 3) % 16 AS INT) + 1] AS i_units,
      |    (${SizeNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST((p_partkey // 5) % 6 AS INT) + 1] AS i_size
      |  FROM part),
      |customer AS (
      |  -- schema-qualified: CTE names cannot carry a schema, so
      |  -- main.customer resolves to the base fixture view even though
      |  -- this CTE shadows the bare name
      |  SELECT c_custkey AS c_customer_sk,
      |    'cust_' || CAST(c_custkey AS VARCHAR) AS c_customer_id,
      |    c_nationkey AS c_current_addr_sk,
      |    (${FirstNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(c_custkey % 11 AS INT) + 1] AS c_first_name,
      |    (${LastNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(c_custkey % 9 AS INT) + 1] AS c_last_name,
      |    (${Salutations.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(c_custkey % 6 AS INT) + 1] AS c_salutation,
      |    CASE WHEN c_custkey % 2 = 0 THEN 'Y' ELSE 'N' END AS c_preferred_cust_flag,
      |    'UNITED STATES' AS c_birth_country,
      |    (c_custkey * 19) % $CdRows + 1 AS c_current_cdemo_sk,
      |    (c_custkey * 23) % $HdRows + 1 AS c_current_hdemo_sk,
      |    9131 + (c_custkey * 53) % 2405 AS c_first_sales_date_sk,
      |    9131 + (c_custkey * 53 + 30) % 2405 AS c_first_shipto_date_sk,
      |    CAST(NULL AS VARCHAR) AS c_login,
      |    'cust_' || CAST(c_custkey AS VARCHAR) || '@example.com' AS c_email_address,
      |    CAST((c_custkey * 7) % 28 + 1 AS INT) AS c_birth_day,
      |    CAST((c_custkey * 11) % 12 + 1 AS INT) AS c_birth_month,
      |    CAST(1924 + (c_custkey * 13) % 68 AS INT) AS c_birth_year,
      |    CAST(2450000 + c_custkey % 1000 AS VARCHAR) AS c_last_review_date
      |  FROM main.customer),
      |customer_address AS (
      |  SELECT n_nationkey AS ca_address_sk,
      |    (${StateNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(n_nationkey % 5 AS INT) + 1] AS ca_state,
      |    'United States' AS ca_country,
      |    CAST(10000 + n_nationkey * 137 AS VARCHAR) AS ca_zip,
      |    (${CityNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(n_nationkey % 6 AS INT) + 1] AS ca_city,
      |    CAST(-6 + (n_nationkey % 2) AS INT) AS ca_gmt_offset,
      |    (${Counties.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(n_nationkey % 4 AS INT) + 1] AS ca_county,
      |    CAST((n_nationkey * 3) % 999 AS VARCHAR) AS ca_street_number,
      |    (${StreetNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(n_nationkey % 6 AS INT) + 1] AS ca_street_name,
      |    (${StreetTypes.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(n_nationkey % 4 AS INT) + 1] AS ca_street_type,
      |    'Suite ' || CAST((n_nationkey % 10) * 10 AS VARCHAR) AS ca_suite_number,
      |    (${LocationTypes.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(n_nationkey % 3 AS INT) + 1] AS ca_location_type
      |  FROM nation),
      |store AS (
      |  SELECT s_suppkey AS s_store_sk,
      |    'store_' || CAST(s_suppkey AS VARCHAR) AS s_store_id,
      |    CASE WHEN s_suppkey = 3 THEN 'ese'
      |         ELSE 'Store#' || CAST(s_suppkey AS VARCHAR) END AS s_store_name,
      |    'Unknown' AS s_company_name,
      |    (${StateNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(s_suppkey % 5 AS INT) + 1] AS s_state,
      |    (${Counties.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(s_suppkey % 4 AS INT) + 1] AS s_county,
      |    CAST(10000 + s_nationkey * 137 AS VARCHAR) AS s_zip,
      |    CAST(s_suppkey % 5 + 1 AS INT) AS s_company_id,
      |    CAST(s_suppkey % 999 AS VARCHAR) AS s_street_number,
      |    (${StreetNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(s_suppkey % 6 AS INT) + 1] AS s_street_name,
      |    (${StreetTypes.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(s_suppkey % 4 AS INT) + 1] AS s_street_type,
      |    'Suite ' || CAST((s_suppkey % 10) * 10 AS VARCHAR) AS s_suite_number,
      |    (${CityNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(s_suppkey % 6 AS INT) + 1] AS s_city,
      |    CAST(-6 + (s_suppkey % 2) AS INT) AS s_gmt_offset,
      |    CAST(200 + (s_suppkey * 7) % 100 AS INT) AS s_number_employees,
      |    CAST(s_suppkey % 10 + 1 AS INT) AS s_market_id
      |  FROM supplier),
      |customer_demographics AS (
      |  SELECT id + 1 AS cd_demo_sk,
      |    CASE WHEN id % 2 = 0 THEN 'M' ELSE 'F' END AS cd_gender,
      |    (${MaritalStatuses.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST((id // 2) % 5 AS INT) + 1] AS cd_marital_status,
      |    (${EducationStatuses.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST((id // 10) % 7 AS INT) + 1] AS cd_education_status,
      |    CAST(((id // 70) % 20 + 1) * 500 AS INT) AS cd_purchase_estimate,
      |    (${CreditRatings.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST((id // 140) % 4 AS INT) + 1] AS cd_credit_rating,
      |    CAST(id % 7 AS DOUBLE) AS cd_dep_count,
      |    CAST((id // 7) % 7 AS DOUBLE) AS cd_dep_employed_count,
      |    CAST((id // 49) % 7 AS DOUBLE) AS cd_dep_college_count
      |  FROM range($CdRows) t(id)),
      |household_demographics AS (
      |  SELECT id + 1 AS hd_demo_sk,
      |    CAST(id % 10 AS INT) AS hd_dep_count,
      |    CAST(id % 6 AS INT) AS hd_vehicle_count,
      |    (${BuyPotentials.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST((id // 10) % 6 AS INT) + 1] AS hd_buy_potential,
      |    id % 20 + 1 AS hd_income_band_sk
      |  FROM range($HdRows) t(id)),
      |income_band AS (
      |  SELECT id + 1 AS ib_income_band_sk,
      |    id * 10000 AS ib_lower_bound,
      |    id * 10000 + 9999 AS ib_upper_bound
      |  FROM range(20) t(id)),
      |reason AS (
      |  SELECT id + 1 AS r_reason_sk,
      |    (${ReasonDescs.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(id % ${ReasonDescs.size} AS INT) + 1] AS r_reason_desc
      |  FROM range($ReasonRows) t(id)),
      |time_dim AS (
      |  SELECT id AS t_time_sk,
      |    id AS t_time,
      |    CAST(id // 3600 AS INT) AS t_hour,
      |    CAST((id % 3600) // 60 AS INT) AS t_minute,
      |    CAST(id % 60 AS INT) AS t_second,
      |    CASE WHEN id // 3600 BETWEEN 5 AND 10 THEN 'breakfast'
      |         WHEN id // 3600 BETWEEN 17 AND 22 THEN 'dinner'
      |         ELSE NULL END AS t_meal_time
      |  FROM range(86400) t(id)),
      |warehouse AS (
      |  SELECT id + 1 AS w_warehouse_sk,
      |    'Warehouse#' || CAST(id + 1 AS VARCHAR) AS w_warehouse_name,
      |    (id + 1) * 1000 AS w_warehouse_sq_ft,
      |    (${CityNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(id % 6 AS INT) + 1] AS w_city,
      |    (${Counties.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(id % 4 AS INT) + 1] AS w_county,
      |    (${StateNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(id % 5 AS INT) + 1] AS w_state,
      |    'United States' AS w_country
      |  FROM range($WhRows) t(id)),
      |ship_mode AS (
      |  SELECT id + 1 AS sm_ship_mode_sk,
      |    (${ShipModeTypes.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(id % 5 AS INT) + 1] AS sm_type,
      |    (${Carriers.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST((id // 5) % 5 AS INT) + 1] AS sm_carrier,
      |    'code_' || CAST(id AS VARCHAR) AS sm_code
      |  FROM range($SmRows) t(id)),
      |web_site AS (
      |  SELECT id + 1 AS web_site_sk,
      |    'web_' || CAST(id + 1 AS VARCHAR) AS web_site_id,
      |    'site_' || CAST(id + 1 AS VARCHAR) AS web_name,
      |    (${WebCompanies.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(id % 5 AS INT) + 1] AS web_company_name
      |  FROM range($WebRows) t(id)),
      |web_page AS (
      |  SELECT id + 1 AS wp_web_page_sk,
      |    4800 + (id % 50) * 10 AS wp_char_count
      |  FROM range($WpRows) t(id)),
      |call_center AS (
      |  SELECT id + 1 AS cc_call_center_sk,
      |    'cc_' || CAST(id + 1 AS VARCHAR) AS cc_call_center_id,
      |    'center_' || CAST(id + 1 AS VARCHAR) AS cc_name,
      |    (${FirstNames.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(id % 11 AS INT) + 1] AS cc_manager,
      |    (${Counties.map("'" + _ + "'").mkString("[", ", ", "]")})[CAST(id % 4 AS INT) + 1] AS cc_county
      |  FROM range($CcRows) t(id)),
      |promotion AS (
      |  SELECT id + 1 AS p_promo_sk,
      |    CASE WHEN id % 2 = 0 THEN 'N' ELSE 'Y' END AS p_channel_email,
      |    CASE WHEN id % 3 = 0 THEN 'N' ELSE 'Y' END AS p_channel_event,
      |    CASE WHEN id % 5 = 0 THEN 'Y' ELSE 'N' END AS p_channel_dmail,
      |    CASE WHEN id % 7 = 0 THEN 'Y' ELSE 'N' END AS p_channel_tv
      |  FROM range($PromoRows) t(id)),
      |catalog_page AS (
      |  SELECT id + 1 AS cp_catalog_page_sk,
      |    'page_' || CAST(id + 1 AS VARCHAR) AS cp_catalog_page_id
      |  FROM range($CpRows) t(id)),
      |inventory AS (
      |  SELECT p_partkey AS inv_item_sk,
      |    g % 5 + 1 AS inv_warehouse_sk,
      |    CAST(9131 + (g // 5) * 7 AS INT) AS inv_date_sk,
      |    CAST(CASE WHEN (p_partkey * 31 + (g % 5 + 1) * 7 + (9131 + (g // 5) * 7) * 13) % 97 < 78
      |      THEN 100 + ((p_partkey * 31 + (g % 5 + 1) * 7 + (9131 + (g // 5) * 7) * 13) % 97) * 5
      |      ELSE ((p_partkey * 31 + (g % 5 + 1) * 7 + (9131 + (g // 5) * 7) * 13) % 97 - 78) * 400 END AS DOUBLE) AS inv_quantity_on_hand
      |  FROM part, range(${WhRows * InvWeeks}) t(g))""".stripMargin

  private def literal(name: String, body: String,
      outCols: Seq[String] = Nil,
      castBigint: Set[String] = Set.empty,
      oracleTypes: Map[String, String] = Map.empty,
      castDouble: Set[String] = Set.empty,
      oracleFixup: String => String = identity): QueryDef = {
    // a text that opens with its own WITH clause (q59) splices into the
    // adapter CTE list; Spark runs the body verbatim against temp views.
    // `outCols`, when given, renames the OUTPUT columns on both sides —
    // for texts with unaliased aggregates (q96's bare count(*)) whose
    // auto-generated names differ between engines; the text itself still
    // runs unmodified (the oracle wraps it as a subquery with a column
    // alias list, the Spark side renames the returned frame). The oracle
    // copy also swaps backtick identifier quoting for double quotes —
    // the reference texts are Flink-dialect (q50's `30 days ` aliases),
    // which Spark parses natively but DuckDB does not.
    val duckBody = oracleFixup(body.replace('`', '"'))
    // `castBigint` names outCols whose DuckDB type needs pinning to
    // BIGINT (an uncast textual sum(1) returns HUGEINT there; Spark
    // returns BIGINT); `oracleTypes` generalizes it to any target type
    // (DuckDB's avg(DECIMAL) says DOUBLE where Spark says DECIMAL(p+4,
    // s+4)) — both applied in the oracle's outer projection only.
    // `castDouble` names output columns that are DECIMAL in BOTH engines
    // with identical exact values, but whose representations diverge at
    // the comparison layer (the oracle side reaches the hasher as float64
    // — DuckDB's pandas export converts every DECIMAL — while a parquet
    // decimal column arrives as exact Decimal objects). Canonicalize BOTH
    // sides to DOUBLE. The oracle's conversion routes through VARCHAR:
    // DuckDB's direct DECIMAL→DOUBLE cast is 1 ulp off on some values
    // (scaled-integer-to-double then divide — two roundings), while its
    // string→double parse is correctly rounded, matching Spark's
    // BigDecimal.doubleValue exactly.
    def duckDouble(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE) AS $c"
    val oracle =
      if (outCols.nonEmpty) {
        val types = oracleTypes ++ castBigint.map(_ -> "BIGINT")
        val proj = outCols.map(c =>
          if (castDouble(c)) duckDouble(c)
          else types.get(c).map(t => s"CAST($c AS $t) AS $c").getOrElse(c))
          .mkString(", ")
        s"WITH $duckViews\nSELECT $proj FROM (\n$duckBody\n) t(${outCols.mkString(", ")})"
      } else if (castDouble.nonEmpty) {
        val repl = castDouble.map(duckDouble).mkString(", ")
        s"WITH $duckViews\nSELECT * REPLACE ($repl) FROM (\n$duckBody\n) t"
      } else if (body.trim.toLowerCase.startsWith("with"))
        s"WITH $duckViews,\n${duckBody.trim.drop(4)}"
      else s"WITH $duckViews\n$duckBody"
    QueryDef(name, oracle) { (spark, dir) =>
      registerViews(spark, dir)
      val df = spark.sql(body)
      val named = if (outCols.nonEmpty) df.toDF(outCols: _*) else df
      castDouble.foldLeft(named)((d, c) =>
        d.withColumn(c, org.apache.spark.sql.functions.col(c).cast("double")))
    }
  }

  /** Dialect shim: append NULLS FIRST to every key of the final
    * ORDER BY. Spark sorts ASC NULLS FIRST, DuckDB NULLS LAST — the
    * difference only shows when a LIMIT cuts across the NULL rows a
    * ROLLUP emits into the sort keys (q5/q14a/q18/q67/q77/q80).
    * Semantics-preserving vs the Spark run; oracle copy only. */
  private def orderByNullsFirst(body: String): String = {
    val low = body.toLowerCase
    val i = low.lastIndexOf("order by")
    val j = low.indexOf("limit", i)
    val keys = body.substring(i + 8, j).split(",").map(_.trim).map(k =>
      // DESC agrees already (both engines put NULLS LAST); only ASC splits
      if (k.toLowerCase.endsWith("desc")) k else s"$k nulls first")
    body.substring(0, i) + keys.mkString("order by ", ", ", "\n") +
      body.substring(j)
  }

  private val E20 = "100000000000000000000"
  private val E19 = "10000000000000000000"

  /** Spark's `avg(CAST(x AS DECIMAL(12,2)))` is an EXACT decimal sum
    * divided by the non-null count, HALF_UP at result scale 6
    * (DECIMAL(16,6)). DuckDB's `avg(DECIMAL)` goes through a double —
    * casting that back to DECIMAL(16,6) rounds an already-inexact value
    * and diverges in the last digit. Mirror Spark exactly: integer cents
    * (HUGEINT) half-up division, rendered to a decimal string. HALF_UP
    * rounds away from zero, so negatives (cs_net_profit) go through
    * abs() with the sign re-applied in the rendering. */
  private[operators] def duckAvgDec16_6(x: String): String = {
    val s = s"CAST(sum(CAST($x AS DECIMAL(12,2))) * 100 AS HUGEINT)"
    val n = s"CAST(count($x) AS HUGEINT)"
    val q = s"((abs($s) * 10000 + $n // 2) // $n)"
    s"CAST(CASE WHEN count($x) = 0 THEN NULL ELSE printf('%s%d.%06d', " +
      s"CASE WHEN $s < 0 THEN '-' ELSE '' END, " +
      s"CAST($q // 1000000 AS BIGINT), CAST($q % 1000000 AS BIGINT)) END " +
      s"AS DECIMAL(16,6))"
  }

  /** q18's seven verbatim `avg( cast(x as decimal(12,2)))` aggregates,
    * re-expressed exactly (oracle copy only; the Spark side runs the
    * text unmodified). */
  private def q18Avgs(body: String): String = {
    val pat = """avg\(\s*cast\(([\w.]+) as decimal\(12,2\)\)\s*\)""".r
    pat.replaceAllIn(body, m => scala.util.matching.Regex.quoteReplacement(
      duckAvgDec16_6(m.group(1))))
  }

  /** DuckDB types DECIMAL/DECIMAL division as DOUBLE where Spark says
    * DECIMAL(15,4)/DECIMAL(15,4) -> DECIMAL(35,20) (exact rational,
    * HALF_UP at scale 20). Mirror Spark exactly in the oracle: HUGEINT
    * half-up division at scale 20, rendered to a decimal string (the
    * 20 fraction digits split 10+10 to stay within BIGINT printf args).
    * Positive operands only — the texts divide sums of positives. */
  private def duckRatio20(a: String, b: String): String = {
    val x = s"((CAST($a AS HUGEINT) * $E20 + CAST($b AS HUGEINT) // 2)" +
      s" // CAST($b AS HUGEINT))"
    s"CAST(printf('%d.%010d%010d', CAST($x // $E20 AS BIGINT), " +
      s"CAST(($x % $E20) // 10000000000 AS BIGINT), " +
      s"CAST($x % 10000000000 AS BIGINT)) AS DECIMAL(35,20))"
  }

  /** Same, for the ratio-times-100 shape (q61): Spark's DECIMAL(35,20)
    * * 100 overflows precision 38 and rescales to DECIMAL(38,19) — the
    * scale drop is exact (x*100 then drop one digit = x*10). */
  private def duckRatio100(a: String, b: String): String = {
    val x10 = s"(((CAST($a AS HUGEINT) * $E20 + CAST($b AS HUGEINT) // 2)" +
      s" // CAST($b AS HUGEINT)) * 10)"
    s"CAST(printf('%d.%010d%09d', CAST($x10 // $E19 AS BIGINT), " +
      s"CAST(($x10 % $E19) // 1000000000 AS BIGINT), " +
      s"CAST($x10 % 1000000000 AS BIGINT)) AS DECIMAL(38,19))"
  }

  /** q49's six verbatim `cast(sum(coalesce(x,0)) as decimal(15,4)) /
    * cast(sum(coalesce(y,0)) as decimal(15,4))` ratios, re-expressed
    * exactly (also keeps the oracle's RANK() ties identical to Spark's,
    * which ranks over the exact decimals). */
  private def q49Ratios(body: String): String = {
    val pat = ("""\(cast\(sum\(coalesce\((\w+\.\w+),0\)\) as """ +
      """decimal\(15,4\)\)\s*/\s*cast\(sum\(coalesce\((\w+\.\w+),0\)\) """ +
      """as decimal\(15,4\)\s*\)\s*\)""").r
    pat.replaceAllIn(body, m => scala.util.matching.Regex.quoteReplacement(
      duckRatio20(s"sum(coalesce(${m.group(1)},0))",
        s"sum(coalesce(${m.group(2)},0))")))
  }

  // reference: tpcds/queries/1/q3.sql (banner comments stripped)
  private val Q3: String =
    """select dt.d_year
      |       ,item.i_brand_id brand_id
      |       ,item.i_brand brand
      |       ,sum(ss_ext_sales_price) sum_agg
      | from  date_dim dt
      |      ,store_sales
      |      ,item
      | where dt.d_date_sk = store_sales.ss_sold_date_sk
      |   and store_sales.ss_item_sk = item.i_item_sk
      |   and item.i_manufact_id = 1
      |   and dt.d_moy=11
      | group by dt.d_year
      |      ,item.i_brand
      |      ,item.i_brand_id
      | order by dt.d_year
      |         ,sum_agg desc
      |         ,brand_id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q19.sql
  private val Q19: String =
    """select i_brand_id brand_id, i_brand brand, i_manufact_id, i_manufact,
      |       sum(ss_ext_sales_price) ext_price
      | from date_dim, store_sales, item,customer,customer_address,store
      | where d_date_sk = ss_sold_date_sk
      |   and ss_item_sk = i_item_sk
      |   and i_manager_id=1
      |   and d_moy=11
      |   and d_year=1998
      |   and ss_customer_sk = c_customer_sk
      |   and c_current_addr_sk = ca_address_sk
      |   and substr(ca_zip,1,5) <> substr(s_zip,1,5)
      |   and ss_store_sk = s_store_sk
      | group by i_brand
      |      ,i_brand_id
      |      ,i_manufact_id
      |      ,i_manufact
      | order by ext_price desc
      |         ,i_brand
      |         ,i_brand_id
      |         ,i_manufact_id
      |         ,i_manufact
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q42.sql
  private val Q42: String =
    """select dt.d_year
      |       ,item.i_category_id
      |       ,item.i_category
      |       ,sum(ss_ext_sales_price)
      | from  date_dim dt
      |       ,store_sales
      |       ,item
      | where dt.d_date_sk = store_sales.ss_sold_date_sk
      |       and store_sales.ss_item_sk = item.i_item_sk
      |       and item.i_manager_id = 1
      |       and dt.d_moy=11
      |       and dt.d_year=1998
      | group by      dt.d_year
      |               ,item.i_category_id
      |               ,item.i_category
      | order by       sum(ss_ext_sales_price) desc,dt.d_year
      |               ,item.i_category_id
      |               ,item.i_category
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q52.sql
  private val Q52: String =
    """select dt.d_year
      |       ,item.i_brand_id brand_id
      |       ,item.i_brand brand
      |       ,sum(ss_ext_sales_price) ext_price
      | from date_dim dt
      |     ,store_sales
      |     ,item
      | where dt.d_date_sk = store_sales.ss_sold_date_sk
      |    and store_sales.ss_item_sk = item.i_item_sk
      |    and item.i_manager_id = 1
      |    and dt.d_moy=11
      |    and dt.d_year=1998
      | group by dt.d_year
      |       ,item.i_brand
      |       ,item.i_brand_id
      | order by dt.d_year
      |       ,ext_price desc
      |       ,brand_id
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q98.sql
  private val Q98: String =
    """select i_item_id
      |      ,i_item_desc
      |      ,i_category
      |      ,i_class
      |      ,i_current_price
      |      ,sum(ss_ext_sales_price) as itemrevenue
      |      ,sum(ss_ext_sales_price)*100/sum(sum(ss_ext_sales_price)) over
      |          (partition by i_class) as revenueratio
      |from
      |	store_sales
      |    	,item
      |    	,date_dim
      |where
      |	ss_item_sk = i_item_sk
      |  	and i_category in ('Electronics', 'Women', 'Men')
      |  	and ss_sold_date_sk = d_date_sk
      |	and d_date between cast('1998-01-02' as date)
      |				and (cast('1998-01-02' as date) + INTERVAL '30' day)
      |group by
      |	i_item_id
      |        ,i_item_desc
      |        ,i_category
      |        ,i_class
      |        ,i_current_price
      |order by
      |	i_category
      |        ,i_class
      |        ,i_item_id
      |        ,i_item_desc
      |        ,revenueratio""".stripMargin

  // reference: tpcds/queries/1/q59.sql
  private val Q59: String =
    """with wss as
      | (select d_week_seq,
      |        ss_store_sk,
      |        sum(case when (d_day_name='Sunday') then ss_sales_price else null end) sun_sales,
      |        sum(case when (d_day_name='Monday') then ss_sales_price else null end) mon_sales,
      |        sum(case when (d_day_name='Tuesday') then ss_sales_price else  null end) tue_sales,
      |        sum(case when (d_day_name='Wednesday') then ss_sales_price else null end) wed_sales,
      |        sum(case when (d_day_name='Thursday') then ss_sales_price else null end) thu_sales,
      |        sum(case when (d_day_name='Friday') then ss_sales_price else null end) fri_sales,
      |        sum(case when (d_day_name='Saturday') then ss_sales_price else null end) sat_sales
      | from store_sales,date_dim
      | where d_date_sk = ss_sold_date_sk
      | group by d_week_seq,ss_store_sk
      | )
      |  select  s_store_name1,s_store_id1,d_week_seq1
      |       ,sun_sales1/sun_sales2,mon_sales1/mon_sales2
      |       ,tue_sales1/tue_sales2,wed_sales1/wed_sales2,thu_sales1/thu_sales2
      |       ,fri_sales1/fri_sales2,sat_sales1/sat_sales2
      | from
      | (select s_store_name s_store_name1,wss.d_week_seq d_week_seq1
      |        ,s_store_id s_store_id1,sun_sales sun_sales1
      |        ,mon_sales mon_sales1,tue_sales tue_sales1
      |        ,wed_sales wed_sales1,thu_sales thu_sales1
      |        ,fri_sales fri_sales1,sat_sales sat_sales1
      |  from wss,store,date_dim d
      |  where d.d_week_seq = wss.d_week_seq and
      |        ss_store_sk = s_store_sk and
      |        d_month_seq between 1176 and 1176 + 11) y,
      | (select s_store_name s_store_name2,wss.d_week_seq d_week_seq2
      |        ,s_store_id s_store_id2,sun_sales sun_sales2
      |        ,mon_sales mon_sales2,tue_sales tue_sales2
      |        ,wed_sales wed_sales2,thu_sales thu_sales2
      |        ,fri_sales fri_sales2,sat_sales sat_sales2
      |  from wss,store,date_dim d
      |  where d.d_week_seq = wss.d_week_seq and
      |        ss_store_sk = s_store_sk and
      |        d_month_seq between 1176+ 12 and 1176 + 23) x
      | where s_store_id1=s_store_id2
      |   and d_week_seq1=d_week_seq2-52
      | order by s_store_name1,s_store_id1,d_week_seq1
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q13.sql
  private val Q13: String =
    """select avg(ss_quantity)
      |       ,avg(ss_ext_sales_price)
      |       ,avg(ss_ext_wholesale_cost)
      |       ,sum(ss_ext_wholesale_cost)
      | from store_sales
      |     ,store
      |     ,customer_demographics
      |     ,household_demographics
      |     ,customer_address
      |     ,date_dim
      | where s_store_sk = ss_store_sk
      | and  ss_sold_date_sk = d_date_sk and d_year = 2001
      | and((ss_hdemo_sk=hd_demo_sk
      |  and cd_demo_sk = ss_cdemo_sk
      |  and cd_marital_status = 'U'
      |  and cd_education_status = 'Unknown'
      |  and ss_sales_price between 100.00 and 150.00
      |  and hd_dep_count = 3
      |     )or
      |     (ss_hdemo_sk=hd_demo_sk
      |  and cd_demo_sk = ss_cdemo_sk
      |  and cd_marital_status = 'M'
      |  and cd_education_status = 'Primary'
      |  and ss_sales_price between 50.00 and 100.00
      |  and hd_dep_count = 1
      |     ) or
      |     (ss_hdemo_sk=hd_demo_sk
      |  and cd_demo_sk = ss_cdemo_sk
      |  and cd_marital_status = 'S'
      |  and cd_education_status = 'Secondary'
      |  and ss_sales_price between 150.00 and 200.00
      |  and hd_dep_count = 1
      |     ))
      | and((ss_addr_sk = ca_address_sk
      |  and ca_country = 'United States'
      |  and ca_state in ('ID', 'TN', 'SD')
      |  and ss_net_profit between 100 and 200
      |     ) or
      |     (ss_addr_sk = ca_address_sk
      |  and ca_country = 'United States'
      |  and ca_state in ('AL', 'SC', 'OH')
      |  and ss_net_profit between 150 and 300
      |     ) or
      |     (ss_addr_sk = ca_address_sk
      |  and ca_country = 'United States'
      |  and ca_state in ('LA', 'MO', 'GA')
      |  and ss_net_profit between 50 and 250
      |     ))""".stripMargin

  // reference: tpcds/queries/1/q48.sql
  private val Q48: String =
    """select sum (ss_quantity)
      | from store_sales, store, customer_demographics, customer_address, date_dim
      | where s_store_sk = ss_store_sk
      | and  ss_sold_date_sk = d_date_sk and d_year = 1998
      | and
      | (
      |  (
      |   cd_demo_sk = ss_cdemo_sk
      |   and
      |   cd_marital_status = 'U'
      |   and
      |   cd_education_status = 'Unknown'
      |   and
      |   ss_sales_price between 100.00 and 150.00
      |   )
      | or
      |  (
      |  cd_demo_sk = ss_cdemo_sk
      |   and
      |   cd_marital_status = 'M'
      |   and
      |   cd_education_status = 'Primary'
      |   and
      |   ss_sales_price between 50.00 and 100.00
      |  )
      | or
      | (
      |  cd_demo_sk = ss_cdemo_sk
      |  and
      |   cd_marital_status = 'S'
      |   and
      |   cd_education_status = 'Secondary'
      |   and
      |   ss_sales_price between 150.00 and 200.00
      | )
      | )
      | and
      | (
      |  (
      |  ss_addr_sk = ca_address_sk
      |  and
      |  ca_country = 'United States'
      |  and
      |  ca_state in ('ID', 'TN', 'SD')
      |  and ss_net_profit between 0 and 2000
      |  )
      | or
      |  (ss_addr_sk = ca_address_sk
      |  and
      |  ca_country = 'United States'
      |  and
      |  ca_state in ('AL', 'SC', 'OH')
      |  and ss_net_profit between 150 and 3000
      |  )
      | or
      |  (ss_addr_sk = ca_address_sk
      |  and
      |  ca_country = 'United States'
      |  and
      |  ca_state in ('LA', 'MO', 'GA')
      |  and ss_net_profit between 50 and 25000
      |  )
      | )""".stripMargin

  // reference: tpcds/queries/1/q88.sql
  private val Q88: String =
    """select  *
      |from
      | (select count(*) h8_30_to_9
      | from store_sales, household_demographics , time_dim, store
      | where ss_sold_time_sk = time_dim.t_time_sk
      |     and ss_hdemo_sk = household_demographics.hd_demo_sk
      |     and ss_store_sk = s_store_sk
      |     and time_dim.t_hour = 8
      |     and time_dim.t_minute >= 30
      |     and ((household_demographics.hd_dep_count = -1 and household_demographics.hd_vehicle_count<=-1+2) or
      |          (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2) or
      |          (household_demographics.hd_dep_count = 1 and household_demographics.hd_vehicle_count<=1+2))
      |     and store.s_store_name = 'ese') s1,
      | (select count(*) h9_to_9_30
      | from store_sales, household_demographics , time_dim, store
      | where ss_sold_time_sk = time_dim.t_time_sk
      |     and ss_hdemo_sk = household_demographics.hd_demo_sk
      |     and ss_store_sk = s_store_sk
      |     and time_dim.t_hour = 9
      |     and time_dim.t_minute < 30
      |     and ((household_demographics.hd_dep_count = -1 and household_demographics.hd_vehicle_count<=-1+2) or
      |          (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2) or
      |          (household_demographics.hd_dep_count = 1 and household_demographics.hd_vehicle_count<=1+2))
      |     and store.s_store_name = 'ese') s2,
      | (select count(*) h9_30_to_10
      | from store_sales, household_demographics , time_dim, store
      | where ss_sold_time_sk = time_dim.t_time_sk
      |     and ss_hdemo_sk = household_demographics.hd_demo_sk
      |     and ss_store_sk = s_store_sk
      |     and time_dim.t_hour = 9
      |     and time_dim.t_minute >= 30
      |     and ((household_demographics.hd_dep_count = -1 and household_demographics.hd_vehicle_count<=-1+2) or
      |          (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2) or
      |          (household_demographics.hd_dep_count = 1 and household_demographics.hd_vehicle_count<=1+2))
      |     and store.s_store_name = 'ese') s3,
      | (select count(*) h10_to_10_30
      | from store_sales, household_demographics , time_dim, store
      | where ss_sold_time_sk = time_dim.t_time_sk
      |     and ss_hdemo_sk = household_demographics.hd_demo_sk
      |     and ss_store_sk = s_store_sk
      |     and time_dim.t_hour = 10
      |     and time_dim.t_minute < 30
      |     and ((household_demographics.hd_dep_count = -1 and household_demographics.hd_vehicle_count<=-1+2) or
      |          (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2) or
      |          (household_demographics.hd_dep_count = 1 and household_demographics.hd_vehicle_count<=1+2))
      |     and store.s_store_name = 'ese') s4,
      | (select count(*) h10_30_to_11
      | from store_sales, household_demographics , time_dim, store
      | where ss_sold_time_sk = time_dim.t_time_sk
      |     and ss_hdemo_sk = household_demographics.hd_demo_sk
      |     and ss_store_sk = s_store_sk
      |     and time_dim.t_hour = 10
      |     and time_dim.t_minute >= 30
      |     and ((household_demographics.hd_dep_count = -1 and household_demographics.hd_vehicle_count<=-1+2) or
      |          (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2) or
      |          (household_demographics.hd_dep_count = 1 and household_demographics.hd_vehicle_count<=1+2))
      |     and store.s_store_name = 'ese') s5,
      | (select count(*) h11_to_11_30
      | from store_sales, household_demographics , time_dim, store
      | where ss_sold_time_sk = time_dim.t_time_sk
      |     and ss_hdemo_sk = household_demographics.hd_demo_sk
      |     and ss_store_sk = s_store_sk
      |     and time_dim.t_hour = 11
      |     and time_dim.t_minute < 30
      |     and ((household_demographics.hd_dep_count = -1 and household_demographics.hd_vehicle_count<=-1+2) or
      |          (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2) or
      |          (household_demographics.hd_dep_count = 1 and household_demographics.hd_vehicle_count<=1+2))
      |     and store.s_store_name = 'ese') s6,
      | (select count(*) h11_30_to_12
      | from store_sales, household_demographics , time_dim, store
      | where ss_sold_time_sk = time_dim.t_time_sk
      |     and ss_hdemo_sk = household_demographics.hd_demo_sk
      |     and ss_store_sk = s_store_sk
      |     and time_dim.t_hour = 11
      |     and time_dim.t_minute >= 30
      |     and ((household_demographics.hd_dep_count = -1 and household_demographics.hd_vehicle_count<=-1+2) or
      |          (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2) or
      |          (household_demographics.hd_dep_count = 1 and household_demographics.hd_vehicle_count<=1+2))
      |     and store.s_store_name = 'ese') s7,
      | (select count(*) h12_to_12_30
      | from store_sales, household_demographics , time_dim, store
      | where ss_sold_time_sk = time_dim.t_time_sk
      |     and ss_hdemo_sk = household_demographics.hd_demo_sk
      |     and ss_store_sk = s_store_sk
      |     and time_dim.t_hour = 12
      |     and time_dim.t_minute < 30
      |     and ((household_demographics.hd_dep_count = -1 and household_demographics.hd_vehicle_count<=-1+2) or
      |          (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2) or
      |          (household_demographics.hd_dep_count = 1 and household_demographics.hd_vehicle_count<=1+2))
      |     and store.s_store_name = 'ese') s8""".stripMargin

  // reference: tpcds/queries/1/q1.sql
  private val Q1: String =
    """with customer_total_return as
      |(select sr_customer_sk as ctr_customer_sk
      |,sr_store_sk as ctr_store_sk
      |,sum(sr_return_amt) as ctr_total_return
      |from store_returns
      |,date_dim
      |where sr_returned_date_sk = d_date_sk
      |and d_year =1998
      |group by sr_customer_sk
      |,sr_store_sk)
      | select  c_customer_id
      |from customer_total_return ctr1
      |,store
      |,customer
      |where ctr1.ctr_total_return > (select avg(ctr_total_return)*1.2
      |from customer_total_return ctr2
      |where ctr1.ctr_store_sk = ctr2.ctr_store_sk)
      |and s_store_sk = ctr1.ctr_store_sk
      |and s_state = 'TN'
      |and ctr1.ctr_customer_sk = c_customer_sk
      |order by c_customer_id
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q43.sql
  private val Q43: String =
    """select  s_store_name, s_store_id,
      |        sum(case when (d_day_name='Sunday') then ss_sales_price else null end) sun_sales,
      |        sum(case when (d_day_name='Monday') then ss_sales_price else null end) mon_sales,
      |        sum(case when (d_day_name='Tuesday') then ss_sales_price else  null end) tue_sales,
      |        sum(case when (d_day_name='Wednesday') then ss_sales_price else null end) wed_sales,
      |        sum(case when (d_day_name='Thursday') then ss_sales_price else null end) thu_sales,
      |        sum(case when (d_day_name='Friday') then ss_sales_price else null end) fri_sales,
      |        sum(case when (d_day_name='Saturday') then ss_sales_price else null end) sat_sales
      | from date_dim, store_sales, store
      | where d_date_sk = ss_sold_date_sk and
      |       s_store_sk = ss_store_sk and
      |       s_gmt_offset = -5 and
      |       d_year = 1998
      | group by s_store_name, s_store_id
      | order by s_store_name, s_store_id,sun_sales,mon_sales,tue_sales,wed_sales,thu_sales,fri_sales,sat_sales
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q47.sql
  private val Q47: String =
    """with v1 as(
      | select i_category, i_brand,
      |        s_store_name, s_company_name,
      |        d_year, d_moy,
      |        sum(ss_sales_price) sum_sales,
      |        avg(sum(ss_sales_price)) over
      |          (partition by i_category, i_brand,
      |                     s_store_name, s_company_name, d_year)
      |          avg_monthly_sales,
      |        rank() over
      |          (partition by i_category, i_brand,
      |                     s_store_name, s_company_name
      |           order by d_year, d_moy) rn
      | from item, store_sales, date_dim, store
      | where ss_item_sk = i_item_sk and
      |       ss_sold_date_sk = d_date_sk and
      |       ss_store_sk = s_store_sk and
      |       (
      |         d_year = 1999 or
      |         ( d_year = 1999-1 and d_moy =12) or
      |         ( d_year = 1999+1 and d_moy =1)
      |       )
      | group by i_category, i_brand,
      |          s_store_name, s_company_name,
      |          d_year, d_moy),
      | v2 as(
      | select v1.i_category
      |        ,v1.d_year
      |        ,v1.avg_monthly_sales
      |        ,v1.sum_sales, v1_lag.sum_sales psum, v1_lead.sum_sales nsum
      | from v1, v1 v1_lag, v1 v1_lead
      | where v1.i_category = v1_lag.i_category and
      |       v1.i_category = v1_lead.i_category and
      |       v1.i_brand = v1_lag.i_brand and
      |       v1.i_brand = v1_lead.i_brand and
      |       v1.s_store_name = v1_lag.s_store_name and
      |       v1.s_store_name = v1_lead.s_store_name and
      |       v1.s_company_name = v1_lag.s_company_name and
      |       v1.s_company_name = v1_lead.s_company_name and
      |       v1.rn = v1_lag.rn + 1 and
      |       v1.rn = v1_lead.rn - 1)
      |  select  *
      | from v2
      | where  d_year = 1999 and
      |        avg_monthly_sales > 0 and
      |        case when avg_monthly_sales > 0 then abs(sum_sales - avg_monthly_sales) / avg_monthly_sales else null end > 0.1
      | order by sum_sales - avg_monthly_sales, 3
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q50.sql
  private val Q50: String =
    """select
      |   s_store_name
      |  ,s_company_id
      |  ,s_street_number
      |  ,s_street_name
      |  ,s_street_type
      |  ,s_suite_number
      |  ,s_city
      |  ,s_county
      |  ,s_state
      |  ,s_zip
      |  ,sum(case when (sr_returned_date_sk - ss_sold_date_sk <= 30 ) then 1 else 0 end)  AS `30 days `
      |  ,sum(case when (sr_returned_date_sk - ss_sold_date_sk > 30) and
      |                 (sr_returned_date_sk - ss_sold_date_sk <= 60) then 1 else 0 end )  as `31 - 60 days `
      |  ,sum(case when (sr_returned_date_sk - ss_sold_date_sk > 60) and
      |                 (sr_returned_date_sk - ss_sold_date_sk <= 90) then 1 else 0 end)  as `61 - 90 days `
      |  ,sum(case when (sr_returned_date_sk - ss_sold_date_sk > 90) and
      |                 (sr_returned_date_sk - ss_sold_date_sk <= 120) then 1 else 0 end)  as `91 - 120 days `
      |  ,sum(case when (sr_returned_date_sk - ss_sold_date_sk  > 120) then 1 else 0 end)  as `>120 days `
      |from
      |   store_sales
      |  ,store_returns
      |  ,store
      |  ,date_dim d1
      |  ,date_dim d2
      |where
      |    d2.d_year = 1998
      |and d2.d_moy  = 8
      |and ss_ticket_number = sr_ticket_number
      |and ss_item_sk = sr_item_sk
      |and ss_sold_date_sk   = d1.d_date_sk
      |and sr_returned_date_sk   = d2.d_date_sk
      |and ss_customer_sk = sr_customer_sk
      |and ss_store_sk = s_store_sk
      |group by
      |   s_store_name
      |  ,s_company_id
      |  ,s_street_number
      |  ,s_street_name
      |  ,s_street_type
      |  ,s_suite_number
      |  ,s_city
      |  ,s_county
      |  ,s_state
      |  ,s_zip
      |order by s_store_name
      |        ,s_company_id
      |        ,s_street_number
      |        ,s_street_name
      |        ,s_street_type
      |        ,s_suite_number
      |        ,s_city
      |        ,s_county
      |        ,s_state
      |        ,s_zip
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q70.sql
  private val Q70: String =
    """select
      |    sum(ss_net_profit) as total_sum
      |   ,s_state
      |   ,s_county
      |   ,grouping(s_state)+grouping(s_county) as lochierarchy
      |   ,rank() over (
      | 	partition by grouping(s_state)+grouping(s_county),
      | 	case when grouping(s_county) = 0 then s_state end
      | 	order by sum(ss_net_profit) desc) as rank_within_parent
      | from
      |    store_sales
      |   ,date_dim       d1
      |   ,store
      | where
      |    d1.d_month_seq between 1176 and 1176+11
      | and d1.d_date_sk = ss_sold_date_sk
      | and s_store_sk  = ss_store_sk
      | and s_state in
      |             ( select s_state
      |               from  (select s_state as s_state,
      | 			    rank() over ( partition by s_state order by sum(ss_net_profit) desc) as ranking
      |                      from   store_sales, store, date_dim
      |                      where  d_month_seq between 1176 and 1176+11
      | 			    and d_date_sk = ss_sold_date_sk
      | 			    and s_store_sk  = ss_store_sk
      |                      group by s_state
      |                     ) tmp1
      |               where ranking <= 5
      |             )
      | group by rollup(s_state,s_county)
      | order by
      |   lochierarchy desc
      |  ,case when lochierarchy = 0 then s_state end
      |  ,rank_within_parent
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q6.sql
  private val Q6: String =
    """select  a.ca_state state, count(*) cnt
      | from customer_address a
      |     ,customer c
      |     ,store_sales s
      |     ,date_dim d
      |     ,item i
      | where       a.ca_address_sk = c.c_current_addr_sk
      | 	and c.c_customer_sk = s.ss_customer_sk
      | 	and s.ss_sold_date_sk = d.d_date_sk
      | 	and s.ss_item_sk = i.i_item_sk
      | 	and d.d_month_seq =
      | 	     (select distinct (d_month_seq)
      | 	      from date_dim
      |               where d_year = 1998
      | 	        and d_moy = 1 )
      | 	and i.i_current_price > 1.2 *
      |             (select avg(j.i_current_price)
      | 	     from item j
      | 	     where j.i_category = i.i_category)
      | group by a.ca_state
      | having count(*) >= 10
      | order by cnt
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q7.sql
  private val Q7: String =
    """select  i_item_id,
      |        avg(ss_quantity) agg1,
      |        avg(ss_list_price) agg2,
      |        avg(ss_coupon_amt) agg3,
      |        avg(ss_sales_price) agg4
      | from store_sales, customer_demographics, date_dim, item, promotion
      | where ss_sold_date_sk = d_date_sk and
      |       ss_item_sk = i_item_sk and
      |       ss_cdemo_sk = cd_demo_sk and
      |       ss_promo_sk = p_promo_sk and
      |       cd_gender = 'M' and
      |       cd_marital_status = 'M' and
      |       cd_education_status = 'Primary' and
      |       (p_channel_email = 'N' or p_channel_event = 'N') and
      |       d_year = 1998
      | group by i_item_id
      | order by i_item_id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q73.sql
  private val Q73: String =
    """select c_last_name
      |       ,c_first_name
      |       ,c_salutation
      |       ,c_preferred_cust_flag
      |       ,ss_ticket_number
      |       ,cnt from
      |   (select ss_ticket_number
      |          ,ss_customer_sk
      |          ,count(*) cnt
      |    from store_sales,date_dim,store,household_demographics
      |    where store_sales.ss_sold_date_sk = date_dim.d_date_sk
      |    and store_sales.ss_store_sk = store.s_store_sk
      |    and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
      |    and date_dim.d_dom between 1 and 2
      |    and (household_demographics.hd_buy_potential = '1001-5000' or
      |         household_demographics.hd_buy_potential = '0-500')
      |    and household_demographics.hd_vehicle_count > 0
      |    and case when household_demographics.hd_vehicle_count > 0 then
      |             household_demographics.hd_dep_count/ household_demographics.hd_vehicle_count else null end > 1
      |    and date_dim.d_year in (1998,1998+1,1998+2)
      |    and store.s_county in ('Williamson County','Williamson County','Williamson County','Williamson County')
      |    group by ss_ticket_number,ss_customer_sk) dj,customer
      |    where ss_customer_sk = c_customer_sk
      |      and cnt between 1 and 5
      |    order by cnt desc, c_last_name asc""".stripMargin

  // reference: tpcds/queries/1/q96.sql
  private val Q96: String =
    """select  count(*)
      |from store_sales
      |    ,household_demographics
      |    ,time_dim, store
      |where ss_sold_time_sk = time_dim.t_time_sk
      |    and ss_hdemo_sk = household_demographics.hd_demo_sk
      |    and ss_store_sk = s_store_sk
      |    and time_dim.t_hour = 20
      |    and time_dim.t_minute >= 30
      |    and household_demographics.hd_dep_count = 0
      |    and store.s_store_name = 'ese'
      |order by count(*)
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q36.sql
  private val Q36: String =
    """select
      |    sum(ss_net_profit)/sum(ss_ext_sales_price) as gross_margin
      |   ,i_category
      |   ,i_class
      |   ,grouping(i_category)+grouping(i_class) as lochierarchy
      |   ,rank() over (
      | 	partition by grouping(i_category)+grouping(i_class),
      | 	case when grouping(i_class) = 0 then i_category end
      | 	order by sum(ss_net_profit)/sum(ss_ext_sales_price) asc) as rank_within_parent
      | from
      |    store_sales
      |   ,date_dim       d1
      |   ,item
      |   ,store
      | where
      |    d1.d_year = 1998
      | and d1.d_date_sk = ss_sold_date_sk
      | and i_item_sk  = ss_item_sk
      | and s_store_sk  = ss_store_sk
      | and s_state in ('TN','TN','TN','TN',
      |                 'TN','TN','TN','TN')
      | group by rollup(i_category,i_class)
      | order by
      |   lochierarchy desc
      |  ,case when lochierarchy = 0 then i_category end
      |  ,rank_within_parent
      |  limit 100""".stripMargin

  // reference: tpcds/queries/1/q53.sql
  private val Q53: String =
    """select  * from
      |(select i_manufact_id,
      |sum(ss_sales_price) sum_sales,
      |avg(sum(ss_sales_price)) over (partition by i_manufact_id) avg_quarterly_sales
      |from item, store_sales, date_dim, store
      |where ss_item_sk = i_item_sk and
      |ss_sold_date_sk = d_date_sk and
      |ss_store_sk = s_store_sk and
      |d_month_seq in (1176,1176+1,1176+2,1176+3,1176+4,1176+5,1176+6,1176+7,1176+8,1176+9,1176+10,1176+11) and
      |((i_category in ('Books','Children','Electronics') and
      |i_class in ('personal','portable','reference','self-help') and
      |i_brand in ('scholaramalgamalg #14','scholaramalgamalg #7',
      |		'exportiunivamalg #9','scholaramalgamalg #9'))
      |or(i_category in ('Women','Music','Men') and
      |i_class in ('accessories','classical','fragrances','pants') and
      |i_brand in ('amalgimporto #1','edu packscholar #1','exportiimporto #1',
      |		'importoamalg #1')))
      |group by i_manufact_id, d_qoy ) tmp1
      |where case when avg_quarterly_sales > 0
      |	then abs (sum_sales - avg_quarterly_sales)/ avg_quarterly_sales
      |	else null end > 0.1
      |order by avg_quarterly_sales,
      |	 sum_sales,
      |	 i_manufact_id
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q63.sql
  private val Q63: String =
    """select  *
      |from (select i_manager_id
      |             ,sum(ss_sales_price) sum_sales
      |             ,avg(sum(ss_sales_price)) over (partition by i_manager_id) avg_monthly_sales
      |      from item
      |          ,store_sales
      |          ,date_dim
      |          ,store
      |      where ss_item_sk = i_item_sk
      |        and ss_sold_date_sk = d_date_sk
      |        and ss_store_sk = s_store_sk
      |        and d_month_seq in (1176,1176+1,1176+2,1176+3,1176+4,1176+5,1176+6,1176+7,1176+8,1176+9,1176+10,1176+11)
      |        and ((    i_category in ('Books','Children','Electronics')
      |              and i_class in ('personal','portable','reference','self-help')
      |              and i_brand in ('scholaramalgamalg #14','scholaramalgamalg #7',
      |		                  'exportiunivamalg #9','scholaramalgamalg #9'))
      |           or(    i_category in ('Women','Music','Men')
      |              and i_class in ('accessories','classical','fragrances','pants')
      |              and i_brand in ('amalgimporto #1','edu packscholar #1','exportiimporto #1',
      |		                 'importoamalg #1')))
      |group by i_manager_id, d_moy) tmp1
      |where case when avg_monthly_sales > 0 then abs (sum_sales - avg_monthly_sales) / avg_monthly_sales else null end > 0.1
      |order by i_manager_id
      |        ,avg_monthly_sales
      |        ,sum_sales
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q64.sql
  private val Q64: String =
    """with cs_ui as
      | (select cs_item_sk
      |        ,sum(cs_ext_list_price) as sale,sum(cr_refunded_cash+cr_reversed_charge+cr_store_credit) as refund
      |  from catalog_sales
      |      ,catalog_returns
      |  where cs_item_sk = cr_item_sk
      |    and cs_order_number = cr_order_number
      |  group by cs_item_sk
      |  having sum(cs_ext_list_price)>2*sum(cr_refunded_cash+cr_reversed_charge+cr_store_credit)),
      |cross_sales as
      | (select i_product_name product_name
      |     ,i_item_sk item_sk
      |     ,s_store_name store_name
      |     ,s_zip store_zip
      |     ,ad1.ca_street_number b_street_number
      |     ,ad1.ca_street_name b_street_name
      |     ,ad1.ca_city b_city
      |     ,ad1.ca_zip b_zip
      |     ,ad2.ca_street_number c_street_number
      |     ,ad2.ca_street_name c_street_name
      |     ,ad2.ca_city c_city
      |     ,ad2.ca_zip c_zip
      |     ,d1.d_year as syear
      |     ,d2.d_year as fsyear
      |     ,d3.d_year s2year
      |     ,count(*) cnt
      |     ,sum(ss_wholesale_cost) s1
      |     ,sum(ss_list_price) s2
      |     ,sum(ss_coupon_amt) s3
      |  FROM   store_sales
      |        ,store_returns
      |        ,cs_ui
      |        ,date_dim d1
      |        ,date_dim d2
      |        ,date_dim d3
      |        ,store
      |        ,customer
      |        ,customer_demographics cd1
      |        ,customer_demographics cd2
      |        ,promotion
      |        ,household_demographics hd1
      |        ,household_demographics hd2
      |        ,customer_address ad1
      |        ,customer_address ad2
      |        ,income_band ib1
      |        ,income_band ib2
      |        ,item
      |  WHERE  ss_store_sk = s_store_sk AND
      |         ss_sold_date_sk = d1.d_date_sk AND
      |         ss_customer_sk = c_customer_sk AND
      |         ss_cdemo_sk= cd1.cd_demo_sk AND
      |         ss_hdemo_sk = hd1.hd_demo_sk AND
      |         ss_addr_sk = ad1.ca_address_sk and
      |         ss_item_sk = i_item_sk and
      |         ss_item_sk = sr_item_sk and
      |         ss_ticket_number = sr_ticket_number and
      |         ss_item_sk = cs_ui.cs_item_sk and
      |         c_current_cdemo_sk = cd2.cd_demo_sk AND
      |         c_current_hdemo_sk = hd2.hd_demo_sk AND
      |         c_current_addr_sk = ad2.ca_address_sk and
      |         c_first_sales_date_sk = d2.d_date_sk and
      |         c_first_shipto_date_sk = d3.d_date_sk and
      |         ss_promo_sk = p_promo_sk and
      |         hd1.hd_income_band_sk = ib1.ib_income_band_sk and
      |         hd2.hd_income_band_sk = ib2.ib_income_band_sk and
      |         cd1.cd_marital_status <> cd2.cd_marital_status and
      |         i_color in ('yellow','almond','antique','aquamarine','azure','beige') and
      |         i_current_price between 0 and 0 + 10 and
      |         i_current_price between 0 + 1 and 0 + 15
      |group by i_product_name
      |       ,i_item_sk
      |       ,s_store_name
      |       ,s_zip
      |       ,ad1.ca_street_number
      |       ,ad1.ca_street_name
      |       ,ad1.ca_city
      |       ,ad1.ca_zip
      |       ,ad2.ca_street_number
      |       ,ad2.ca_street_name
      |       ,ad2.ca_city
      |       ,ad2.ca_zip
      |       ,d1.d_year
      |       ,d2.d_year
      |       ,d3.d_year
      |)
      |select cs1.product_name
      |     ,cs1.store_name
      |     ,cs1.store_zip
      |     ,cs1.b_street_number
      |     ,cs1.b_street_name
      |     ,cs1.b_city
      |     ,cs1.b_zip
      |     ,cs1.c_street_number
      |     ,cs1.c_street_name
      |     ,cs1.c_city
      |     ,cs1.c_zip
      |     ,cs1.syear
      |     ,cs1.cnt
      |     ,cs1.s1 as s11
      |     ,cs1.s2 as s21
      |     ,cs1.s3 as s31
      |     ,cs2.s1 as s12
      |     ,cs2.s2 as s22
      |     ,cs2.s3 as s32
      |     ,cs2.syear
      |     ,cs2.cnt
      |from cross_sales cs1,cross_sales cs2
      |where cs1.item_sk=cs2.item_sk and
      |     cs1.syear = 1999 and
      |     cs2.syear = 1999 + 1 and
      |     cs2.cnt <= cs1.cnt and
      |     cs1.store_name = cs2.store_name and
      |     cs1.store_zip = cs2.store_zip
      |order by cs1.product_name
      |       ,cs1.store_name
      |       ,cs2.cnt""".stripMargin

  // reference: tpcds/queries/1/q65.sql
  private val Q65: String =
    """select
      |	s_store_name,
      |	i_item_desc,
      |	sc.revenue,
      |	i_current_price,
      |	i_wholesale_cost,
      |	i_brand
      | from store, item,
      |     (select ss_store_sk, avg(revenue) as ave
      | 	from
      | 	    (select  ss_store_sk, ss_item_sk,
      | 		     sum(ss_sales_price) as revenue
      | 		from store_sales, date_dim
      | 		where ss_sold_date_sk = d_date_sk and d_month_seq between 1176 and 1176+11
      | 		group by ss_store_sk, ss_item_sk) sa
      | 	group by ss_store_sk) sb,
      |     (select  ss_store_sk, ss_item_sk, sum(ss_sales_price) as revenue
      | 	from store_sales, date_dim
      | 	where ss_sold_date_sk = d_date_sk and d_month_seq between 1176 and 1176+11
      | 	group by ss_store_sk, ss_item_sk) sc
      | where sb.ss_store_sk = sc.ss_store_sk and
      |       sc.revenue <= 0.1 * sb.ave and
      |       s_store_sk = sc.ss_store_sk and
      |       i_item_sk = sc.ss_item_sk
      | order by s_store_name, i_item_desc
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q89.sql
  private val Q89: String =
    """select  *
      |from(
      |select i_category, i_class, i_brand,
      |       s_store_name, s_company_name,
      |       d_moy,
      |       sum(ss_sales_price) sum_sales,
      |       avg(sum(ss_sales_price)) over
      |         (partition by i_category, i_brand, s_store_name, s_company_name)
      |         avg_monthly_sales
      |from item, store_sales, date_dim, store
      |where ss_item_sk = i_item_sk and
      |      ss_sold_date_sk = d_date_sk and
      |      ss_store_sk = s_store_sk and
      |      d_year in (1998) and
      |        ((i_category in ('Women','Men','Children') and
      |          i_class in ('dresses','accessories','newborn')
      |         )
      |      or (i_category in ('Shoes','Music','Jewelry') and
      |          i_class in ('womens','rock','birdal')
      |        ))
      |group by i_category, i_class, i_brand,
      |         s_store_name, s_company_name, d_moy) tmp1
      |where case when (avg_monthly_sales <> 0) then (abs(sum_sales - avg_monthly_sales) / avg_monthly_sales) else null end > 0.1
      |order by sum_sales - avg_monthly_sales, s_store_name
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q55.sql
  private val Q55: String =
    """select i_brand_id brand_id, i_brand brand,
      |       sum(ss_ext_sales_price) ext_price
      | from date_dim, store_sales, item
      | where d_date_sk = ss_sold_date_sk
      |       and ss_item_sk = i_item_sk
      |       and i_manager_id=1
      |       and d_moy=11
      |       and d_year=1998
      | group by i_brand, i_brand_id
      | order by ext_price desc, i_brand_id
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q8.sql
  private val Q8: String =
    """select  s_store_name
      |      ,sum(ss_net_profit)
      | from store_sales
      |     ,date_dim
      |     ,store,
      |     (select ca_zip
      |     from (
      |      SELECT substr(ca_zip,1,5) ca_zip
      |      FROM customer_address
      |      WHERE substr(ca_zip,1,5) IN (
      |                          '10000','10001','10002','10003','10004','10005',
      |                          '10006','10007','10008','10009','10010',
      |                          '10011','10012','10013','10014','10015',
      |                          '10016','10017','10018','10019','10020',
      |                          '10021','10022','10023','10024','10025',
      |                          '10026','10027','10028','10029','10030',
      |                          '10031','10032','10033','10034','10035',
      |                          '10036','10037','10038','10039','10040',
      |                          '10041','10042','10043','10044','10045',
      |                          '10046','10047','10048','10049','10050',
      |                          '10051','10052','10053','10054','10055',
      |                          '10056','10057','10058','10059','10060',
      |                          '10061','10062','10063','10064','10065',
      |                          '10066','10067','10068','10069','10070',
      |                          '10071','10072','10073','10074','10075',
      |                          '10076','10077','10078','10079','10080',
      |                          '10081','10082','10083','10084','10085',
      |                          '10086','10087','10088','10089','10090',
      |                          '10091','10092','10093','10094','10095',
      |                          '10096','10097','10098','10099','10100',
      |                          '10101','10102','10103','10104','10105',
      |                          '10106','10107','10108','10109','10110',
      |                          '10111','10112','10113','10114','10115',
      |                          '10116','10117','10118','10119','10120',
      |                          '10121','10122','10123','10124','10125',
      |                          '10126','10127','10128','10129','10130',
      |                          '10131','10132','10133','10134','10135',
      |                          '10136','10137','10138','10139','10140',
      |                          '10141','10142','10143','10144','10145',
      |                          '10146','10147','10148','10149','10150',
      |                          '10151','10152','10153','10154','10155',
      |                          '10156','10157','10158','10159','10160',
      |                          '10161','10162','10163','10164','10165',
      |                          '10166','10167','10168','10169','10170',
      |                          '10171','10172','10173','10174','10175',
      |                          '10176','10177','10178','10179','10180',
      |                          '10181','10182','10183','10184','10185',
      |                          '10186','10187','10188','10189','10190',
      |                          '10191','10192','10193','10194','10195',
      |                          '10196','10197','10198','10199','10200',
      |                          '10201','10202','10203','10204','10205',
      |                          '10206','10207','10208','10209','10210',
      |                          '10211','10212','10213','10214','10215',
      |                          '10216','10217','10218','10219','10220',
      |                          '10221','10222','10223','10224','10225',
      |                          '10226','10227','10228','10229','10230',
      |                          '10231','10232','10233','10234','10235',
      |                          '10236','10237','10238','10239','10240',
      |                          '10241','10242','10243','10244','10245',
      |                          '10246','10247','10248','10249','10250',
      |                          '10251','10252','10253','10254','10255',
      |                          '10256','10257','10258','10259','10260',
      |                          '10261','10262','10263','10264','10265',
      |                          '10266','10267','10268','10269','10270',
      |                          '10271','10272','10273','10274','10275',
      |                          '10276','10277','10278','10279','10280',
      |                          '10281','10282','10283','10284','10285',
      |                          '10286','10287','10288','10289','10290',
      |                          '10291','10292','10293','10294','10295',
      |                          '10296','10297','10298','10299','10300',
      |                          '10301','10302','10303','10304','10305',
      |                          '10306','10307','10308','10309','10310',
      |                          '10311','10312','10313','10314','10315',
      |                          '10316','10317','10318','10319','10320',
      |                          '10321','10322','10323','10324','10325',
      |                          '10326','10327','10328','10329','10330',
      |                          '10331','10332','10333','10334','10335',
      |                          '10336','10337','10338','10339','10340',
      |                          '10341','10342','10343','10344','10345',
      |                          '10346','10347','10348','10349','10350',
      |                          '10351','10352','10353','10354','10355',
      |                          '10356','10357','10358','10359','10360',
      |                          '10361','10362','10363','10364','10365',
      |                          '10366','10367','10368','10369','10370',
      |                          '10371','10372','10373','10374','10375',
      |                          '10376','10377','10378','10379','10380',
      |                          '10381','10382','10383','10384','10385',
      |                          '10386','10387','10388','10389','10390',
      |                          '10391','10392','10393','10394','10395',
      |                          '10396','10397','10398','10399')
      |     intersect
      |      select ca_zip
      |      from (SELECT substr(ca_zip,1,5) ca_zip,count(*) cnt
      |            FROM customer_address, customer
      |            WHERE ca_address_sk = c_current_addr_sk and
      |                  c_preferred_cust_flag='Y'
      |            group by ca_zip
      |            having count(*) > 10)A1)A2) V1
      | where ss_store_sk = s_store_sk
      |  and ss_sold_date_sk = d_date_sk
      |  and d_qoy = 1 and d_year = 1998
      |  and (substr(s_zip,1,2) = substr(V1.ca_zip,1,2))
      | group by s_store_name
      | order by s_store_name
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q28.sql
  private val Q28: String =
    """select  *
      |from (select avg(ss_list_price) B1_LP
      |            ,count(ss_list_price) B1_CNT
      |            ,count(distinct ss_list_price) B1_CNTD
      |      from store_sales
      |      where ss_quantity between 0 and 5
      |        and (ss_list_price between 0 and 0+10 
      |             or ss_coupon_amt between 0 and 0+1000
      |             or ss_wholesale_cost between 0 and 0+20)) B1,
      |     (select avg(ss_list_price) B2_LP
      |            ,count(ss_list_price) B2_CNT
      |            ,count(distinct ss_list_price) B2_CNTD
      |      from store_sales
      |      where ss_quantity between 6 and 10
      |        and (ss_list_price between 1 and 1+10
      |          or ss_coupon_amt between 1 and 1+1000
      |          or ss_wholesale_cost between 1 and 1+20)) B2,
      |     (select avg(ss_list_price) B3_LP
      |            ,count(ss_list_price) B3_CNT
      |            ,count(distinct ss_list_price) B3_CNTD
      |      from store_sales
      |      where ss_quantity between 11 and 15
      |        and (ss_list_price between 2 and 2+10
      |          or ss_coupon_amt between 2 and 2+1000
      |          or ss_wholesale_cost between 2 and 2+20)) B3,
      |     (select avg(ss_list_price) B4_LP
      |            ,count(ss_list_price) B4_CNT
      |            ,count(distinct ss_list_price) B4_CNTD
      |      from store_sales
      |      where ss_quantity between 16 and 20
      |        and (ss_list_price between 3 and 3+10
      |          or ss_coupon_amt between 3 and 3+1000
      |          or ss_wholesale_cost between 3 and 3+20)) B4,
      |     (select avg(ss_list_price) B5_LP
      |            ,count(ss_list_price) B5_CNT
      |            ,count(distinct ss_list_price) B5_CNTD
      |      from store_sales
      |      where ss_quantity between 21 and 25
      |        and (ss_list_price between 4 and 4+10
      |          or ss_coupon_amt between 4 and 4+1000
      |          or ss_wholesale_cost between 4 and 4+20)) B5,
      |     (select avg(ss_list_price) B6_LP
      |            ,count(ss_list_price) B6_CNT
      |            ,count(distinct ss_list_price) B6_CNTD
      |      from store_sales
      |      where ss_quantity between 26 and 30
      |        and (ss_list_price between 5 and 5+10
      |          or ss_coupon_amt between 5 and 5+1000
      |          or ss_wholesale_cost between 5 and 5+20)) B6
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q46.sql
  private val Q46: String =
    """select  c_last_name
      |       ,c_first_name
      |       ,ca_city
      |       ,bought_city
      |       ,ss_ticket_number
      |       ,amt,profit 
      | from
      |   (select ss_ticket_number
      |          ,ss_customer_sk
      |          ,ca_city bought_city
      |          ,sum(ss_coupon_amt) amt
      |          ,sum(ss_net_profit) profit
      |    from store_sales,date_dim,store,household_demographics,customer_address 
      |    where store_sales.ss_sold_date_sk = date_dim.d_date_sk
      |    and store_sales.ss_store_sk = store.s_store_sk  
      |    and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
      |    and store_sales.ss_addr_sk = customer_address.ca_address_sk
      |    and (household_demographics.hd_dep_count = 0 or
      |         household_demographics.hd_vehicle_count= -1)
      |    and date_dim.d_dow in (6,0)
      |    and date_dim.d_year in (1998,1998+1,1998+2) 
      |    and store.s_city in ('Midway','Fairview','Fairview','Fairview','Fairview') 
      |    group by ss_ticket_number,ss_customer_sk,ss_addr_sk,ca_city) dn,customer,customer_address current_addr
      |    where ss_customer_sk = c_customer_sk
      |      and customer.c_current_addr_sk = current_addr.ca_address_sk
      |      and current_addr.ca_city <> bought_city
      |  order by c_last_name
      |          ,c_first_name
      |          ,ca_city
      |          ,bought_city
      |          ,ss_ticket_number
      |  limit 100""".stripMargin

  // reference: tpcds/queries/1/q68.sql
  private val Q68: String =
    """select  c_last_name
      |       ,c_first_name
      |       ,ca_city
      |       ,bought_city
      |       ,ss_ticket_number
      |       ,extended_price
      |       ,extended_tax
      |       ,list_price
      | from (select ss_ticket_number
      |             ,ss_customer_sk
      |             ,ca_city bought_city
      |             ,sum(ss_ext_sales_price) extended_price 
      |             ,sum(ss_ext_list_price) list_price
      |             ,sum(ss_ext_tax) extended_tax 
      |       from store_sales
      |           ,date_dim
      |           ,store
      |           ,household_demographics
      |           ,customer_address 
      |       where store_sales.ss_sold_date_sk = date_dim.d_date_sk
      |         and store_sales.ss_store_sk = store.s_store_sk  
      |        and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
      |        and store_sales.ss_addr_sk = customer_address.ca_address_sk
      |        and date_dim.d_dom between 1 and 2 
      |        and (household_demographics.hd_dep_count = 0 or
      |             household_demographics.hd_vehicle_count= -1)
      |        and date_dim.d_year in (1998,1998+1,1998+2)
      |        and store.s_city in ('Midway','Fairview')
      |       group by ss_ticket_number
      |               ,ss_customer_sk
      |               ,ss_addr_sk,ca_city) dn
      |      ,customer
      |      ,customer_address current_addr
      | where ss_customer_sk = c_customer_sk
      |   and customer.c_current_addr_sk = current_addr.ca_address_sk
      |   and current_addr.ca_city <> bought_city
      | order by c_last_name
      |         ,ss_ticket_number
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q79.sql
  private val Q79: String =
    """select 
      |  c_last_name,c_first_name,substr(s_city,1,30),ss_ticket_number,amt,profit
      |  from
      |   (select ss_ticket_number
      |          ,ss_customer_sk
      |          ,store.s_city
      |          ,sum(ss_coupon_amt) amt
      |          ,sum(ss_net_profit) profit
      |    from store_sales,date_dim,store,household_demographics
      |    where store_sales.ss_sold_date_sk = date_dim.d_date_sk
      |    and store_sales.ss_store_sk = store.s_store_sk  
      |    and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
      |    and (household_demographics.hd_dep_count = 0 or household_demographics.hd_vehicle_count > -1)
      |    and date_dim.d_dow = 1
      |    and date_dim.d_year in (1998,1998+1,1998+2) 
      |    and store.s_number_employees between 200 and 295
      |    group by ss_ticket_number,ss_customer_sk,ss_addr_sk,store.s_city) ms,customer
      |    where ss_customer_sk = c_customer_sk
      | order by c_last_name,c_first_name,substr(s_city,1,30), profit
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q41.sql
  private val Q41: String =
    """select  distinct(i_product_name)
      | from item i1
      | where i_manufact_id between 667 and 667+40 
      |   and (select count(*) as item_cnt
      |        from item
      |        where (i_manufact = i1.i_manufact and
      |        ((i_category = 'Women' and 
      |        (i_color = 'yellow' or i_color = 'almond') and 
      |        (i_units = 'N/A' or i_units = 'Unknown') and
      |        (i_size = 'N/A' or i_size = 'petite')
      |        ) or
      |        (i_category = 'Women' and
      |        (i_color = 'antique' or i_color = 'aquamarine') and
      |        (i_units = 'Each' or i_units = 'Dozen') and
      |        (i_size = 'small' or i_size = 'medium')
      |        ) or
      |        (i_category = 'Men' and
      |        (i_color = 'azure' or i_color = 'beige') and
      |        (i_units = 'Case' or i_units = 'Pallet') and
      |        (i_size = 'large' or i_size = 'extra large')
      |        ) or
      |        (i_category = 'Men' and
      |        (i_color = 'bisque' or i_color = 'black') and
      |        (i_units = 'Gross' or i_units = 'Carton') and
      |        (i_size = 'N/A' or i_size = 'petite')
      |        ))) or
      |       (i_manufact = i1.i_manufact and
      |        ((i_category = 'Women' and 
      |        (i_color = 'blanched' or i_color = 'blue') and 
      |        (i_units = 'Box' or i_units = 'Bunch') and
      |        (i_size = 'N/A' or i_size = 'petite')
      |        ) or
      |        (i_category = 'Women' and
      |        (i_color = 'blush' or i_color = 'brown') and
      |        (i_units = 'Bundle' or i_units = 'Oz') and
      |        (i_size = 'small' or i_size = 'medium')
      |        ) or
      |        (i_category = 'Men' and
      |        (i_color = 'burlywood' or i_color = 'burnished') and
      |        (i_units = 'Lb' or i_units = 'Ton') and
      |        (i_size = 'large' or i_size = 'extra large')
      |        ) or
      |        (i_category = 'Men' and
      |        (i_color = 'chartreuse' or i_color = 'chiffon') and
      |        (i_units = 'Ounce' or i_units = 'Pound') and
      |        (i_size = 'N/A' or i_size = 'petite')
      |        )))) > 0
      | order by i_product_name
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q24a.sql
  private val Q24A: String =
    """with ssales as
      |(select c_last_name
      |      ,c_first_name
      |      ,s_store_name
      |      ,ca_state
      |      ,s_state
      |      ,i_color
      |      ,i_current_price
      |      ,i_manager_id
      |      ,i_units
      |      ,i_size
      |      ,sum(ss_net_paid) netpaid
      |from store_sales
      |    ,store_returns
      |    ,store
      |    ,item
      |    ,customer
      |    ,customer_address
      |where ss_ticket_number = sr_ticket_number
      |  and ss_item_sk = sr_item_sk
      |  and ss_customer_sk = c_customer_sk
      |  and ss_item_sk = i_item_sk
      |  and ss_store_sk = s_store_sk
      |  and c_birth_country = upper(ca_country)
      |  and s_zip = ca_zip
      |and s_market_id=5
      |group by c_last_name
      |        ,c_first_name
      |        ,s_store_name
      |        ,ca_state
      |        ,s_state
      |        ,i_color
      |        ,i_current_price
      |        ,i_manager_id
      |        ,i_units
      |        ,i_size)
      |select c_last_name
      |      ,c_first_name
      |      ,s_store_name
      |      ,sum(netpaid) paid
      |from ssales
      |where i_color = 'yellow'
      |group by c_last_name
      |        ,c_first_name
      |        ,s_store_name
      |having sum(netpaid) > (select 0.05*avg(netpaid)
      |                                 from ssales)""".stripMargin

  // reference: tpcds/queries/1/q24b.sql
  private val Q24B: String =
    """with ssales as
      |(select c_last_name
      |      ,c_first_name
      |      ,s_store_name
      |      ,ca_state
      |      ,s_state
      |      ,i_color
      |      ,i_current_price
      |      ,i_manager_id
      |      ,i_units
      |      ,i_size
      |      ,sum(ss_net_paid) netpaid
      |from store_sales
      |    ,store_returns
      |    ,store
      |    ,item
      |    ,customer
      |    ,customer_address
      |where ss_ticket_number = sr_ticket_number
      |  and ss_item_sk = sr_item_sk
      |  and ss_customer_sk = c_customer_sk
      |  and ss_item_sk = i_item_sk
      |  and ss_store_sk = s_store_sk
      |  and c_birth_country = upper(ca_country)
      |  and s_zip = ca_zip
      |  and s_market_id = 5
      |group by c_last_name
      |        ,c_first_name
      |        ,s_store_name
      |        ,ca_state
      |        ,s_state
      |        ,i_color
      |        ,i_current_price
      |        ,i_manager_id
      |        ,i_units
      |        ,i_size)
      |select c_last_name
      |      ,c_first_name
      |      ,s_store_name
      |      ,sum(netpaid) paid
      |from ssales
      |where i_color = 'almond'
      |group by c_last_name
      |        ,c_first_name
      |        ,s_store_name
      |having sum(netpaid) > (select 0.05*avg(netpaid)
      |                           from ssales)""".stripMargin

  // reference: tpcds/queries/1/q9.sql
  private val Q9: String =
    """select case when (select count(*) 
      |                  from store_sales 
      |                  where ss_quantity between 1 and 20) > 1
      |            then (select avg(ss_ext_discount_amt) 
      |                  from store_sales 
      |                  where ss_quantity between 1 and 20) 
      |            else (select avg(ss_net_paid)
      |                  from store_sales
      |                  where ss_quantity between 1 and 20) end bucket1 ,
      |       case when (select count(*)
      |                  from store_sales
      |                  where ss_quantity between 21 and 40) > 2
      |            then (select avg(ss_ext_discount_amt)
      |                  from store_sales
      |                  where ss_quantity between 21 and 40) 
      |            else (select avg(ss_net_paid)
      |                  from store_sales
      |                  where ss_quantity between 21 and 40) end bucket2,
      |       case when (select count(*)
      |                  from store_sales
      |                  where ss_quantity between 41 and 60) > 3
      |            then (select avg(ss_ext_discount_amt)
      |                  from store_sales
      |                  where ss_quantity between 41 and 60)
      |            else (select avg(ss_net_paid)
      |                  from store_sales
      |                  where ss_quantity between 41 and 60) end bucket3,
      |       case when (select count(*)
      |                  from store_sales
      |                  where ss_quantity between 61 and 80) > 4
      |            then (select avg(ss_ext_discount_amt)
      |                  from store_sales
      |                  where ss_quantity between 61 and 80)
      |            else (select avg(ss_net_paid)
      |                  from store_sales
      |                  where ss_quantity between 61 and 80) end bucket4,
      |       case when (select count(*)
      |                  from store_sales
      |                  where ss_quantity between 81 and 100) > 5
      |            then (select avg(ss_ext_discount_amt)
      |                  from store_sales
      |                  where ss_quantity between 81 and 100)
      |            else (select avg(ss_net_paid)
      |                  from store_sales
      |                  where ss_quantity between 81 and 100) end bucket5
      |from reason
      |where r_reason_sk = 1""".stripMargin

  // reference: tpcds/queries/1/q93.sql
  private val Q93: String =
    """select  ss_customer_sk
      |            ,sum(act_sales) sumsales
      |      from (select ss_item_sk
      |                  ,ss_ticket_number
      |                  ,ss_customer_sk
      |                  ,case when sr_return_quantity is not null then (ss_quantity-sr_return_quantity)*ss_sales_price
      |                                                            else (ss_quantity*ss_sales_price) end act_sales
      |            from store_sales left outer join store_returns on (sr_item_sk = ss_item_sk
      |                                                               and sr_ticket_number = ss_ticket_number)
      |                ,reason
      |            where sr_reason_sk = r_reason_sk
      |              and r_reason_desc = 'Package was damaged') t
      |      group by ss_customer_sk
      |      order by sumsales, ss_customer_sk
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q84.sql
  private val Q84: String =
    """select  c_customer_id as customer_id
      |       , coalesce(c_last_name,'') || ', ' || coalesce(c_first_name,'') as customername
      | from customer
      |     ,customer_address
      |     ,customer_demographics
      |     ,household_demographics
      |     ,income_band
      |     ,store_returns
      | where ca_city	        =  'Midway'
      |   and c_current_addr_sk = ca_address_sk
      |   and ib_lower_bound   >=  0
      |   and ib_upper_bound   <=  0 + 50000
      |   and ib_income_band_sk = hd_income_band_sk
      |   and cd_demo_sk = c_current_cdemo_sk
      |   and hd_demo_sk = c_current_hdemo_sk
      |   and sr_cdemo_sk = cd_demo_sk
      | order by c_customer_id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q15.sql
  private val Q15: String =
    """select  ca_zip
      |       ,sum(cs_sales_price)
      | from catalog_sales
      |     ,customer
      |     ,customer_address
      |     ,date_dim
      | where cs_bill_customer_sk = c_customer_sk
      | 	and c_current_addr_sk = ca_address_sk 
      | 	and ( substr(ca_zip,1,5) in ('85669', '86197','88274','83405','86475',
      |                                   '85392', '85460', '80348', '81792')
      | 	      or ca_state in ('CA','WA','GA')
      | 	      or cs_sales_price > 500)
      | 	and cs_sold_date_sk = d_date_sk
      | 	and d_qoy = 1 and d_year = 1998
      | group by ca_zip
      | order by ca_zip
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q20.sql
  private val Q20: String =
    """select  i_item_id
      |       ,i_item_desc 
      |       ,i_category 
      |       ,i_class 
      |       ,i_current_price
      |       ,sum(cs_ext_sales_price) as itemrevenue 
      |       ,sum(cs_ext_sales_price)*100/sum(sum(cs_ext_sales_price)) over
      |           (partition by i_class) as revenueratio
      | from	catalog_sales
      |     ,item 
      |     ,date_dim
      | where cs_item_sk = i_item_sk 
      |   and i_category in ('Electronics', 'Women', 'Men')
      |   and cs_sold_date_sk = d_date_sk
      | and d_date between cast('1998-01-02' as date) 
      | 				and (cast('1998-01-02' as date) + INTERVAL '30' day)
      | group by i_item_id
      |         ,i_item_desc 
      |         ,i_category
      |         ,i_class
      |         ,i_current_price
      | order by i_category
      |         ,i_class
      |         ,i_item_id
      |         ,i_item_desc
      |         ,revenueratio
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q12.sql
  private val Q12: String =
    """SELECT  i_item_id
      |      ,i_item_desc 
      |      ,i_category 
      |      ,i_class 
      |      ,i_current_price
      |      ,sum(ws_ext_sales_price) as itemrevenue 
      |      ,sum(ws_ext_sales_price)*100/sum(sum(ws_ext_sales_price)) over
      |          (partition by i_class) as revenueratio
      |FROM
      |	  web_sales, item, date_dim
      |where 
      |	ws_item_sk = i_item_sk 
      |  	and i_category in ('Electronics', 'Women', 'Men')
      |  	and ws_sold_date_sk = d_date_sk
      |	and d_date between cast('1998-01-02' as date) 
      |				and (cast('1998-01-02' as date) + INTERVAL '30' day)
      |GROUP BY
      |  i_item_id, i_item_desc, i_category, i_class, i_current_price
      |ORDER BY
      |  i_category, i_class, i_item_id, i_item_desc, revenueratio
      |LIMIT 100""".stripMargin

  // reference: tpcds/queries/1/q32.sql
  private val Q32: String =
    """select  sum(cs_ext_discount_amt)  as `excess discount amount`
      |from 
      |   catalog_sales 
      |   ,item 
      |   ,date_dim
      |where
      |i_manufact_id = 1
      |and i_item_sk = cs_item_sk 
      |and d_date between '1998-01-02' and 
      |        (cast('1998-01-02' as date) + INTERVAL '90' day)
      |and d_date_sk = cs_sold_date_sk 
      |and cs_ext_discount_amt  
      |     > ( 
      |         select 
      |            1.3 * avg(cs_ext_discount_amt) 
      |         from 
      |            catalog_sales 
      |           ,date_dim
      |         where 
      |              cs_item_sk = i_item_sk 
      |          and d_date between '1998-01-02' and
      |                             (cast('1998-01-02' as date) + INTERVAL '90' day)
      |          and d_date_sk = cs_sold_date_sk 
      |      ) 
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q92.sql
  private val Q92: String =
    """select  
      |   sum(ws_ext_discount_amt)  as `Excess Discount Amount `
      |from 
      |    web_sales 
      |   ,item 
      |   ,date_dim
      |where
      |i_manufact_id = 1
      |and i_item_sk = ws_item_sk 
      |and d_date between '1998-01-02' and 
      |        (cast('1998-01-02' as date) + INTERVAL '90' day)
      |and d_date_sk = ws_sold_date_sk 
      |and ws_ext_discount_amt  
      |     > ( 
      |         SELECT 
      |            1.3 * avg(ws_ext_discount_amt) 
      |         FROM 
      |            web_sales 
      |           ,date_dim
      |         WHERE 
      |              ws_item_sk = i_item_sk 
      |          and d_date between '1998-01-02' and
      |                             (cast('1998-01-02' as date) + INTERVAL '90' day)
      |          and d_date_sk = ws_sold_date_sk 
      |      ) 
      |order by sum(ws_ext_discount_amt)
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q86.sql
  private val Q86: String =
    """select   
      |    sum(ws_net_paid) as total_sum
      |   ,i_category
      |   ,i_class
      |   ,grouping(i_category)+grouping(i_class) as lochierarchy
      |   ,rank() over (
      | 	partition by grouping(i_category)+grouping(i_class),
      | 	case when grouping(i_class) = 0 then i_category end 
      | 	order by sum(ws_net_paid) desc) as rank_within_parent
      | from
      |    web_sales
      |   ,date_dim       d1
      |   ,item
      | where
      |    d1.d_month_seq between 1176 and 1176+11
      | and d1.d_date_sk = ws_sold_date_sk
      | and i_item_sk  = ws_item_sk
      | group by rollup(i_category,i_class)
      | order by
      |   lochierarchy desc,
      |   case when lochierarchy = 0 then i_category end,
      |   rank_within_parent
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q2.sql
  private val Q2: String =
    """with wscs as
      | (select sold_date_sk
      |        ,sales_price
      |  from  (select ws_sold_date_sk sold_date_sk
      |              ,ws_ext_sales_price sales_price
      |        from web_sales )
      |        union all
      |        (select cs_sold_date_sk sold_date_sk
      |              ,cs_ext_sales_price sales_price
      |        from catalog_sales)),
      | wswscs as 
      | (select d_week_seq,
      |        sum(case when (d_day_name='Sunday') then sales_price else null end) sun_sales,
      |        sum(case when (d_day_name='Monday') then sales_price else null end) mon_sales,
      |        sum(case when (d_day_name='Tuesday') then sales_price else  null end) tue_sales,
      |        sum(case when (d_day_name='Wednesday') then sales_price else null end) wed_sales,
      |        sum(case when (d_day_name='Thursday') then sales_price else null end) thu_sales,
      |        sum(case when (d_day_name='Friday') then sales_price else null end) fri_sales,
      |        sum(case when (d_day_name='Saturday') then sales_price else null end) sat_sales
      | from wscs
      |     ,date_dim
      | where d_date_sk = sold_date_sk
      | group by d_week_seq)
      | select d_week_seq1
      |       ,round(sun_sales1/sun_sales2,2)
      |       ,round(mon_sales1/mon_sales2,2)
      |       ,round(tue_sales1/tue_sales2,2)
      |       ,round(wed_sales1/wed_sales2,2)
      |       ,round(thu_sales1/thu_sales2,2)
      |       ,round(fri_sales1/fri_sales2,2)
      |       ,round(sat_sales1/sat_sales2,2)
      | from
      | (select wswscs.d_week_seq d_week_seq1
      |        ,sun_sales sun_sales1
      |        ,mon_sales mon_sales1
      |        ,tue_sales tue_sales1
      |        ,wed_sales wed_sales1
      |        ,thu_sales thu_sales1
      |        ,fri_sales fri_sales1
      |        ,sat_sales sat_sales1
      |  from wswscs,date_dim 
      |  where date_dim.d_week_seq = wswscs.d_week_seq and
      |        d_year = 1998) y,
      | (select wswscs.d_week_seq d_week_seq2
      |        ,sun_sales sun_sales2
      |        ,mon_sales mon_sales2
      |        ,tue_sales tue_sales2
      |        ,wed_sales wed_sales2
      |        ,thu_sales thu_sales2
      |        ,fri_sales fri_sales2
      |        ,sat_sales sat_sales2
      |  from wswscs
      |      ,date_dim 
      |  where date_dim.d_week_seq = wswscs.d_week_seq and
      |        d_year = 1998+1) z
      | where d_week_seq1=d_week_seq2-53
      | order by d_week_seq1""".stripMargin

  // reference: tpcds/queries/1/q74.sql
  private val Q74: String =
    """with year_total as (
      | select c_customer_id customer_id
      |       ,c_first_name customer_first_name
      |       ,c_last_name customer_last_name
      |       ,d_year as `year`
      |       ,sum(ss_net_paid) year_total
      |       ,'s' sale_type
      | from customer
      |     ,store_sales
      |     ,date_dim
      | where c_customer_sk = ss_customer_sk
      |   and ss_sold_date_sk = d_date_sk
      |   and d_year in (1998,1998+1)
      | group by c_customer_id
      |         ,c_first_name
      |         ,c_last_name
      |         ,d_year
      | union all
      | select c_customer_id customer_id
      |       ,c_first_name customer_first_name
      |       ,c_last_name customer_last_name
      |       ,d_year as `year`
      |       ,sum(ws_net_paid) year_total
      |       ,'w' sale_type
      | from customer
      |     ,web_sales
      |     ,date_dim
      | where c_customer_sk = ws_bill_customer_sk
      |   and ws_sold_date_sk = d_date_sk
      |   and d_year in (1998,1998+1)
      | group by c_customer_id
      |         ,c_first_name
      |         ,c_last_name
      |         ,d_year
      |         )
      |  select 
      |        t_s_secyear.customer_id, t_s_secyear.customer_first_name, t_s_secyear.customer_last_name
      | from year_total t_s_firstyear
      |     ,year_total t_s_secyear
      |     ,year_total t_w_firstyear
      |     ,year_total t_w_secyear
      | where t_s_secyear.customer_id = t_s_firstyear.customer_id
      |         and t_s_firstyear.customer_id = t_w_secyear.customer_id
      |         and t_s_firstyear.customer_id = t_w_firstyear.customer_id
      |         and t_s_firstyear.sale_type = 's'
      |         and t_w_firstyear.sale_type = 'w'
      |         and t_s_secyear.sale_type = 's'
      |         and t_w_secyear.sale_type = 'w'
      |         and t_s_firstyear.`year` = 1998
      |         and t_s_secyear.`year` = 1998+1
      |         and t_w_firstyear.`year` = 1998
      |         and t_w_secyear.`year` = 1998+1
      |         and t_s_firstyear.year_total > 0
      |         and t_w_firstyear.year_total > 0
      |         and case when t_w_firstyear.year_total > 0 then t_w_secyear.year_total / t_w_firstyear.year_total else null end
      |           > case when t_s_firstyear.year_total > 0 then t_s_secyear.year_total / t_s_firstyear.year_total else null end
      | order by 1,2,3
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q76.sql
  private val Q76: String =
    """select  channel, col_name, d_year, d_qoy, i_category, COUNT(*) sales_cnt, SUM(ext_sales_price) sales_amt FROM (
      |        SELECT 'store' as channel, 'ss_customer_sk' col_name, d_year, d_qoy, i_category, ss_ext_sales_price ext_sales_price
      |         FROM store_sales, item, date_dim
      |         WHERE ss_customer_sk IS NULL
      |           AND ss_sold_date_sk=d_date_sk
      |           AND ss_item_sk=i_item_sk
      |        UNION ALL
      |        SELECT 'web' as channel, 'ws_bill_customer_sk' col_name, d_year, d_qoy, i_category, ws_ext_sales_price ext_sales_price
      |         FROM web_sales, item, date_dim
      |         WHERE ws_bill_customer_sk IS NULL
      |           AND ws_sold_date_sk=d_date_sk
      |           AND ws_item_sk=i_item_sk
      |        UNION ALL
      |        SELECT 'catalog' as channel, 'cs_bill_customer_sk' col_name, d_year, d_qoy, i_category, cs_ext_sales_price ext_sales_price
      |         FROM catalog_sales, item, date_dim
      |         WHERE cs_bill_customer_sk IS NULL
      |           AND cs_sold_date_sk=d_date_sk
      |           AND cs_item_sk=i_item_sk) foo
      |GROUP BY channel, col_name, d_year, d_qoy, i_category
      |ORDER BY channel, col_name, d_year, d_qoy, i_category
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q97.sql
  private val Q97: String =
    """with ssci as (
      |select ss_customer_sk customer_sk
      |      ,ss_item_sk item_sk
      |from store_sales,date_dim
      |where ss_sold_date_sk = d_date_sk
      |  and d_month_seq between 1176 and 1176 + 11
      |group by ss_customer_sk
      |        ,ss_item_sk),
      |csci as(
      | select cs_bill_customer_sk customer_sk
      |      ,cs_item_sk item_sk
      |from catalog_sales,date_dim
      |where cs_sold_date_sk = d_date_sk
      |  and d_month_seq between 1176 and 1176 + 11
      |group by cs_bill_customer_sk
      |        ,cs_item_sk)
      | select  sum(case when ssci.customer_sk is not null and csci.customer_sk is null then 1 else 0 end) store_only
      |      ,sum(case when ssci.customer_sk is null and csci.customer_sk is not null then 1 else 0 end) catalog_only
      |      ,sum(case when ssci.customer_sk is not null and csci.customer_sk is not null then 1 else 0 end) store_and_catalog
      |from ssci full outer join csci on (ssci.customer_sk=csci.customer_sk
      |                               and ssci.item_sk = csci.item_sk)
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q4.sql
  private val Q4: String =
    """with year_total as (
      | select c_customer_id customer_id
      |       ,c_first_name customer_first_name
      |       ,c_last_name customer_last_name
      |       ,c_preferred_cust_flag customer_preferred_cust_flag
      |       ,c_birth_country customer_birth_country
      |       ,c_login customer_login
      |       ,c_email_address customer_email_address
      |       ,d_year dyear
      |       ,sum(((ss_ext_list_price-ss_ext_wholesale_cost-ss_ext_discount_amt)+ss_ext_sales_price)/2) year_total
      |       ,'s' sale_type
      | from customer
      |     ,store_sales
      |     ,date_dim
      | where c_customer_sk = ss_customer_sk
      |   and ss_sold_date_sk = d_date_sk
      | group by c_customer_id
      |         ,c_first_name
      |         ,c_last_name
      |         ,c_preferred_cust_flag
      |         ,c_birth_country
      |         ,c_login
      |         ,c_email_address
      |         ,d_year
      | union all
      | select c_customer_id customer_id
      |       ,c_first_name customer_first_name
      |       ,c_last_name customer_last_name
      |       ,c_preferred_cust_flag customer_preferred_cust_flag
      |       ,c_birth_country customer_birth_country
      |       ,c_login customer_login
      |       ,c_email_address customer_email_address
      |       ,d_year dyear
      |       ,sum((((cs_ext_list_price-cs_ext_wholesale_cost-cs_ext_discount_amt)+cs_ext_sales_price)/2) ) year_total
      |       ,'c' sale_type
      | from customer
      |     ,catalog_sales
      |     ,date_dim
      | where c_customer_sk = cs_bill_customer_sk
      |   and cs_sold_date_sk = d_date_sk
      | group by c_customer_id
      |         ,c_first_name
      |         ,c_last_name
      |         ,c_preferred_cust_flag
      |         ,c_birth_country
      |         ,c_login
      |         ,c_email_address
      |         ,d_year
      |union all
      | select c_customer_id customer_id
      |       ,c_first_name customer_first_name
      |       ,c_last_name customer_last_name
      |       ,c_preferred_cust_flag customer_preferred_cust_flag
      |       ,c_birth_country customer_birth_country
      |       ,c_login customer_login
      |       ,c_email_address customer_email_address
      |       ,d_year dyear
      |       ,sum((((ws_ext_list_price-ws_ext_wholesale_cost-ws_ext_discount_amt)+ws_ext_sales_price)/2) ) year_total
      |       ,'w' sale_type
      | from customer
      |     ,web_sales
      |     ,date_dim
      | where c_customer_sk = ws_bill_customer_sk
      |   and ws_sold_date_sk = d_date_sk
      | group by c_customer_id
      |         ,c_first_name
      |         ,c_last_name
      |         ,c_preferred_cust_flag
      |         ,c_birth_country
      |         ,c_login
      |         ,c_email_address
      |         ,d_year
      |         )
      |  select  
      |                  t_s_secyear.customer_id
      |                 ,t_s_secyear.customer_first_name
      |                 ,t_s_secyear.customer_last_name
      |                 ,t_s_secyear.customer_preferred_cust_flag
      | from year_total t_s_firstyear
      |     ,year_total t_s_secyear
      |     ,year_total t_c_firstyear
      |     ,year_total t_c_secyear
      |     ,year_total t_w_firstyear
      |     ,year_total t_w_secyear
      | where t_s_secyear.customer_id = t_s_firstyear.customer_id
      |   and t_s_firstyear.customer_id = t_c_secyear.customer_id
      |   and t_s_firstyear.customer_id = t_c_firstyear.customer_id
      |   and t_s_firstyear.customer_id = t_w_firstyear.customer_id
      |   and t_s_firstyear.customer_id = t_w_secyear.customer_id
      |   and t_s_firstyear.sale_type = 's'
      |   and t_c_firstyear.sale_type = 'c'
      |   and t_w_firstyear.sale_type = 'w'
      |   and t_s_secyear.sale_type = 's'
      |   and t_c_secyear.sale_type = 'c'
      |   and t_w_secyear.sale_type = 'w'
      |   and t_s_firstyear.dyear =  1998
      |   and t_s_secyear.dyear = 1998+1
      |   and t_c_firstyear.dyear =  1998
      |   and t_c_secyear.dyear =  1998+1
      |   and t_w_firstyear.dyear = 1998
      |   and t_w_secyear.dyear = 1998+1
      |   and t_s_firstyear.year_total > 0
      |   and t_c_firstyear.year_total > 0
      |   and t_w_firstyear.year_total > 0
      |   and case when t_c_firstyear.year_total > 0 then t_c_secyear.year_total / t_c_firstyear.year_total else null end
      |           > case when t_s_firstyear.year_total > 0 then t_s_secyear.year_total / t_s_firstyear.year_total else null end
      |   and case when t_c_firstyear.year_total > 0 then t_c_secyear.year_total / t_c_firstyear.year_total else null end
      |           > case when t_w_firstyear.year_total > 0 then t_w_secyear.year_total / t_w_firstyear.year_total else null end
      | order by t_s_secyear.customer_id
      |         ,t_s_secyear.customer_first_name
      |         ,t_s_secyear.customer_last_name
      |         ,t_s_secyear.customer_preferred_cust_flag
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q11.sql
  private val Q11: String =
    """with year_total as (
      | select c_customer_id customer_id
      |       ,c_first_name customer_first_name
      |       ,c_last_name customer_last_name
      |       ,c_preferred_cust_flag customer_preferred_cust_flag
      |       ,c_birth_country customer_birth_country
      |       ,c_login customer_login
      |       ,c_email_address customer_email_address
      |       ,d_year dyear
      |       ,sum(ss_ext_list_price-ss_ext_discount_amt) year_total
      |       ,'s' sale_type
      | from customer
      |     ,store_sales
      |     ,date_dim
      | where c_customer_sk = ss_customer_sk
      |   and ss_sold_date_sk = d_date_sk
      | group by c_customer_id
      |         ,c_first_name
      |         ,c_last_name
      |         ,c_preferred_cust_flag 
      |         ,c_birth_country
      |         ,c_login
      |         ,c_email_address
      |         ,d_year 
      | union all
      | select c_customer_id customer_id
      |       ,c_first_name customer_first_name
      |       ,c_last_name customer_last_name
      |       ,c_preferred_cust_flag customer_preferred_cust_flag
      |       ,c_birth_country customer_birth_country
      |       ,c_login customer_login
      |       ,c_email_address customer_email_address
      |       ,d_year dyear
      |       ,sum(ws_ext_list_price-ws_ext_discount_amt) year_total
      |       ,'w' sale_type
      | from customer
      |     ,web_sales
      |     ,date_dim
      | where c_customer_sk = ws_bill_customer_sk
      |   and ws_sold_date_sk = d_date_sk
      | group by c_customer_id
      |         ,c_first_name
      |         ,c_last_name
      |         ,c_preferred_cust_flag 
      |         ,c_birth_country
      |         ,c_login
      |         ,c_email_address
      |         ,d_year
      |         )
      |  select  
      |                  t_s_secyear.customer_id
      |                 ,t_s_secyear.customer_first_name
      |                 ,t_s_secyear.customer_last_name
      |                 ,t_s_secyear.customer_preferred_cust_flag
      | from year_total t_s_firstyear
      |     ,year_total t_s_secyear
      |     ,year_total t_w_firstyear
      |     ,year_total t_w_secyear
      | where t_s_secyear.customer_id = t_s_firstyear.customer_id
      |         and t_s_firstyear.customer_id = t_w_secyear.customer_id
      |         and t_s_firstyear.customer_id = t_w_firstyear.customer_id
      |         and t_s_firstyear.sale_type = 's'
      |         and t_w_firstyear.sale_type = 'w'
      |         and t_s_secyear.sale_type = 's'
      |         and t_w_secyear.sale_type = 'w'
      |         and t_s_firstyear.dyear = 1998
      |         and t_s_secyear.dyear = 1998+1
      |         and t_w_firstyear.dyear = 1998
      |         and t_w_secyear.dyear = 1998+1
      |         and t_s_firstyear.year_total > 0
      |         and t_w_firstyear.year_total > 0
      |         and case when t_w_firstyear.year_total > 0 then t_w_secyear.year_total / t_w_firstyear.year_total else 0.0 end
      |             > case when t_s_firstyear.year_total > 0 then t_s_secyear.year_total / t_s_firstyear.year_total else 0.0 end
      | order by t_s_secyear.customer_id
      |         ,t_s_secyear.customer_first_name
      |         ,t_s_secyear.customer_last_name
      |         ,t_s_secyear.customer_preferred_cust_flag
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q33.sql
  private val Q33: String =
    """with ss as (
      | select
      |          i_manufact_id,sum(ss_ext_sales_price) total_sales
      | from
      | 	store_sales,
      | 	date_dim,
      |         customer_address,
      |         item
      | where
      |         i_manufact_id in (select
      |  i_manufact_id
      |from
      | item
      |where i_category in ('Books'))
      | and     ss_item_sk              = i_item_sk
      | and     ss_sold_date_sk         = d_date_sk
      | and     d_year                  = 1998
      | and     d_moy                   = 1
      | and     ss_addr_sk              = ca_address_sk
      | and     ca_gmt_offset           = -5 
      | group by i_manufact_id),
      | cs as (
      | select
      |          i_manufact_id,sum(cs_ext_sales_price) total_sales
      | from
      | 	catalog_sales,
      | 	date_dim,
      |         customer_address,
      |         item
      | where
      |         i_manufact_id               in (select
      |  i_manufact_id
      |from
      | item
      |where i_category in ('Books'))
      | and     cs_item_sk              = i_item_sk
      | and     cs_sold_date_sk         = d_date_sk
      | and     d_year                  = 1998
      | and     d_moy                   = 1
      | and     cs_bill_addr_sk         = ca_address_sk
      | and     ca_gmt_offset           = -5 
      | group by i_manufact_id),
      | ws as (
      | select
      |          i_manufact_id,sum(ws_ext_sales_price) total_sales
      | from
      | 	web_sales,
      | 	date_dim,
      |         customer_address,
      |         item
      | where
      |         i_manufact_id               in (select
      |  i_manufact_id
      |from
      | item
      |where i_category in ('Books'))
      | and     ws_item_sk              = i_item_sk
      | and     ws_sold_date_sk         = d_date_sk
      | and     d_year                  = 1998
      | and     d_moy                   = 1
      | and     ws_bill_addr_sk         = ca_address_sk
      | and     ca_gmt_offset           = -5
      | group by i_manufact_id)
      |  select  i_manufact_id ,sum(total_sales) total_sales
      | from  (select * from ss 
      |        union all
      |        select * from cs 
      |        union all
      |        select * from ws) tmp1
      | group by i_manufact_id
      | order by total_sales
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q45.sql
  private val Q45: String =
    """select  ca_zip, ca_city, sum(ws_sales_price)
      | from web_sales, customer, customer_address, date_dim, item
      | where ws_bill_customer_sk = c_customer_sk
      | 	and c_current_addr_sk = ca_address_sk 
      | 	and ws_item_sk = i_item_sk 
      | 	and ( substr(ca_zip,1,5) in ('85669', '86197','88274','83405','86475', '85392', '85460', '80348', '81792')
      | 	      or 
      | 	      i_item_id in (select i_item_id
      |                             from item
      |                             where i_item_sk in (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)
      |                             )
      | 	    )
      | 	and ws_sold_date_sk = d_date_sk
      | 	and d_qoy = 1 and d_year = 1998
      | group by ca_zip, ca_city
      | order by ca_zip, ca_city
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q51.sql
  private val Q51: String =
    """WITH web_v1 as (
      |select
      |  ws_item_sk item_sk, d_date,
      |  sum(sum(ws_sales_price))
      |      over (partition by ws_item_sk order by d_date rows between unbounded preceding and current row) cume_sales
      |from web_sales
      |    ,date_dim
      |where ws_sold_date_sk=d_date_sk
      |  and d_month_seq between 1176 and 1176+11
      |  and ws_item_sk is not NULL
      |group by ws_item_sk, d_date),
      |store_v1 as (
      |select
      |  ss_item_sk item_sk, d_date,
      |  sum(sum(ss_sales_price))
      |      over (partition by ss_item_sk order by d_date rows between unbounded preceding and current row) cume_sales
      |from store_sales
      |    ,date_dim
      |where ss_sold_date_sk=d_date_sk
      |  and d_month_seq between 1176 and 1176+11
      |  and ss_item_sk is not NULL
      |group by ss_item_sk, d_date)
      | select  *
      |from (select item_sk
      |     ,d_date
      |     ,web_sales
      |     ,store_sales
      |     ,max(web_sales)
      |         over (partition by item_sk order by d_date rows between unbounded preceding and current row) web_cumulative
      |     ,max(store_sales)
      |         over (partition by item_sk order by d_date rows between unbounded preceding and current row) store_cumulative
      |     from (select case when web.item_sk is not null then web.item_sk else store.item_sk end item_sk
      |                 ,case when web.d_date is not null then web.d_date else store.d_date end d_date
      |                 ,web.cume_sales web_sales
      |                 ,store.cume_sales store_sales
      |           from web_v1 web full outer join store_v1 store on (web.item_sk = store.item_sk
      |                                                          and web.d_date = store.d_date)
      |          )x )y
      |where web_cumulative > store_cumulative
      |order by item_sk
      |        ,d_date
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q56.sql
  private val Q56: String =
    """with ss as (
      | select i_item_id,sum(ss_ext_sales_price) total_sales
      | from
      | 	store_sales,
      | 	date_dim,
      |         customer_address,
      |         item
      | where i_item_id in (select
      |     i_item_id
      |from item
      |where i_color in ('yellow','almond','antique'))
      | and     ss_item_sk              = i_item_sk
      | and     ss_sold_date_sk         = d_date_sk
      | and     d_year                  = 1998
      | and     d_moy                   = 1
      | and     ss_addr_sk              = ca_address_sk
      | and     ca_gmt_offset           = -5 
      | group by i_item_id),
      | cs as (
      | select i_item_id,sum(cs_ext_sales_price) total_sales
      | from
      | 	catalog_sales,
      | 	date_dim,
      |         customer_address,
      |         item
      | where
      |         i_item_id               in (select
      |  i_item_id
      |from item
      |where i_color in ('yellow','almond','antique'))
      | and     cs_item_sk              = i_item_sk
      | and     cs_sold_date_sk         = d_date_sk
      | and     d_year                  = 1998
      | and     d_moy                   = 1
      | and     cs_bill_addr_sk         = ca_address_sk
      | and     ca_gmt_offset           = -5 
      | group by i_item_id),
      | ws as (
      | select i_item_id,sum(ws_ext_sales_price) total_sales
      | from
      | 	web_sales,
      | 	date_dim,
      |         customer_address,
      |         item
      | where
      |         i_item_id               in (select
      |  i_item_id
      |from item
      |where i_color in ('yellow','almond','antique'))
      | and     ws_item_sk              = i_item_sk
      | and     ws_sold_date_sk         = d_date_sk
      | and     d_year                  = 1998
      | and     d_moy                   = 1
      | and     ws_bill_addr_sk         = ca_address_sk
      | and     ca_gmt_offset           = -5
      | group by i_item_id)
      |  select  i_item_id ,sum(total_sales) total_sales
      | from  (select * from ss 
      |        union all
      |        select * from cs 
      |        union all
      |        select * from ws) tmp1
      | group by i_item_id
      | order by total_sales
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q60.sql
  private val Q60: String =
    """with ss as (
      | select
      |          i_item_id,sum(ss_ext_sales_price) total_sales
      | from
      | 	store_sales,
      | 	date_dim,
      |         customer_address,
      |         item
      | where
      |         i_item_id in (select
      |  i_item_id
      |from
      | item
      |where i_category in ('Children'))
      | and     ss_item_sk              = i_item_sk
      | and     ss_sold_date_sk         = d_date_sk
      | and     d_year                  = 1998
      | and     d_moy                   = 8
      | and     ss_addr_sk              = ca_address_sk
      | and     ca_gmt_offset           = -5 
      | group by i_item_id),
      | cs as (
      | select
      |          i_item_id,sum(cs_ext_sales_price) total_sales
      | from
      | 	catalog_sales,
      | 	date_dim,
      |         customer_address,
      |         item
      | where
      |         i_item_id               in (select
      |  i_item_id
      |from
      | item
      |where i_category in ('Children'))
      | and     cs_item_sk              = i_item_sk
      | and     cs_sold_date_sk         = d_date_sk
      | and     d_year                  = 1998
      | and     d_moy                   = 8
      | and     cs_bill_addr_sk         = ca_address_sk
      | and     ca_gmt_offset           = -5 
      | group by i_item_id),
      | ws as (
      | select
      |          i_item_id,sum(ws_ext_sales_price) total_sales
      | from
      | 	web_sales,
      | 	date_dim,
      |         customer_address,
      |         item
      | where
      |         i_item_id               in (select
      |  i_item_id
      |from
      | item
      |where i_category in ('Children'))
      | and     ws_item_sk              = i_item_sk
      | and     ws_sold_date_sk         = d_date_sk
      | and     d_year                  = 1998
      | and     d_moy                   = 8
      | and     ws_bill_addr_sk         = ca_address_sk
      | and     ca_gmt_offset           = -5
      | group by i_item_id)
      |  select   
      |  i_item_id
      |,sum(total_sales) total_sales
      | from  (select * from ss 
      |        union all
      |        select * from cs 
      |        union all
      |        select * from ws) tmp1
      | group by i_item_id
      | order by i_item_id
      |      ,total_sales
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q26.sql
  private val Q26: String =
    """select  i_item_id, 
      |        avg(cs_quantity) agg1,
      |        avg(cs_list_price) agg2,
      |        avg(cs_coupon_amt) agg3,
      |        avg(cs_sales_price) agg4 
      | from catalog_sales, customer_demographics, date_dim, item, promotion
      | where cs_sold_date_sk = d_date_sk and
      |       cs_item_sk = i_item_sk and
      |       cs_bill_cdemo_sk = cd_demo_sk and
      |       cs_promo_sk = p_promo_sk and
      |       cd_gender = 'M' and 
      |       cd_marital_status = 'M' and
      |       cd_education_status = 'Primary' and
      |       (p_channel_email = 'N' or p_channel_event = 'N') and
      |       d_year = 1998 
      | group by i_item_id
      | order by i_item_id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q38.sql
  private val Q38: String =
    """select  count(*) from (
      |    select distinct c_last_name, c_first_name, d_date
      |    from store_sales, date_dim, customer
      |          where store_sales.ss_sold_date_sk = date_dim.d_date_sk
      |      and store_sales.ss_customer_sk = customer.c_customer_sk
      |      and d_month_seq between 1176 and 1176 + 11
      |  intersect
      |    select distinct c_last_name, c_first_name, d_date
      |    from catalog_sales, date_dim, customer
      |          where catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
      |      and catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
      |      and d_month_seq between 1176 and 1176 + 11
      |  intersect
      |    select distinct c_last_name, c_first_name, d_date
      |    from web_sales, date_dim, customer
      |          where web_sales.ws_sold_date_sk = date_dim.d_date_sk
      |      and web_sales.ws_bill_customer_sk = customer.c_customer_sk
      |      and d_month_seq between 1176 and 1176 + 11
      |) hot_cust
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q87.sql
  private val Q87: String =
    """select count(*) 
      |from ((select distinct c_last_name, c_first_name, d_date
      |       from store_sales, date_dim, customer
      |       where store_sales.ss_sold_date_sk = date_dim.d_date_sk
      |         and store_sales.ss_customer_sk = customer.c_customer_sk
      |         and d_month_seq between 1176 and 1176+11)
      |       except
      |      (select distinct c_last_name, c_first_name, d_date
      |       from catalog_sales, date_dim, customer
      |       where catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
      |         and catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
      |         and d_month_seq between 1176 and 1176+11)
      |       except
      |      (select distinct c_last_name, c_first_name, d_date
      |       from web_sales, date_dim, customer
      |       where web_sales.ws_sold_date_sk = date_dim.d_date_sk
      |         and web_sales.ws_bill_customer_sk = customer.c_customer_sk
      |         and d_month_seq between 1176 and 1176+11)
      |) cool_cust""".stripMargin

  // reference: tpcds/queries/1/q31.sql
  private val Q31: String =
    """with ss as
      | (select ca_county,d_qoy, d_year,sum(ss_ext_sales_price) as store_sales
      | from store_sales,date_dim,customer_address
      | where ss_sold_date_sk = d_date_sk
      |  and ss_addr_sk=ca_address_sk
      | group by ca_county,d_qoy, d_year),
      | ws as
      | (select ca_county,d_qoy, d_year,sum(ws_ext_sales_price) as web_sales
      | from web_sales,date_dim,customer_address
      | where ws_sold_date_sk = d_date_sk
      |  and ws_bill_addr_sk=ca_address_sk
      | group by ca_county,d_qoy, d_year)
      | select 
      |        ss1.ca_county
      |       ,ss1.d_year
      |       ,ws2.web_sales/ws1.web_sales web_q1_q2_increase
      |       ,ss2.store_sales/ss1.store_sales store_q1_q2_increase
      |       ,ws3.web_sales/ws2.web_sales web_q2_q3_increase
      |       ,ss3.store_sales/ss2.store_sales store_q2_q3_increase
      | from
      |        ss ss1
      |       ,ss ss2
      |       ,ss ss3
      |       ,ws ws1
      |       ,ws ws2
      |       ,ws ws3
      | where
      |    ss1.d_qoy = 1
      |    and ss1.d_year = 1998
      |    and ss1.ca_county = ss2.ca_county
      |    and ss2.d_qoy = 2
      |    and ss2.d_year = 1998
      | and ss2.ca_county = ss3.ca_county
      |    and ss3.d_qoy = 3
      |    and ss3.d_year = 1998
      |    and ss1.ca_county = ws1.ca_county
      |    and ws1.d_qoy = 1
      |    and ws1.d_year = 1998
      |    and ws1.ca_county = ws2.ca_county
      |    and ws2.d_qoy = 2
      |    and ws2.d_year = 1998
      |    and ws1.ca_county = ws3.ca_county
      |    and ws3.d_qoy = 3
      |    and ws3.d_year =1998
      |    and case when ws1.web_sales > 0 then ws2.web_sales/ws1.web_sales else null end 
      |       > case when ss1.store_sales > 0 then ss2.store_sales/ss1.store_sales else null end
      |    and case when ws2.web_sales > 0 then ws3.web_sales/ws2.web_sales else null end
      |       > case when ss2.store_sales > 0 then ss3.store_sales/ss2.store_sales else null end
      | order by ss1.ca_county""".stripMargin

  // reference: tpcds/queries/1/q44.sql
  private val Q44: String =
    """select  asceding.rnk, i1.i_product_name best_performing, i2.i_product_name worst_performing
      |from(select *
      |     from (select item_sk,rank() over (order by rank_col asc) rnk
      |           from (select ss_item_sk item_sk,avg(ss_net_profit) rank_col 
      |                 from store_sales ss1
      |                 where ss_store_sk = 1
      |                 group by ss_item_sk
      |                 having avg(ss_net_profit) > 0.9*(select avg(ss_net_profit) rank_col
      |                                                  from store_sales
      |                                                  where ss_store_sk = 1
      |                                                    and ss_customer_sk is null
      |                                                  group by ss_store_sk))V1)V11
      |     where rnk  < 11) asceding,
      |    (select *
      |     from (select item_sk,rank() over (order by rank_col desc) rnk
      |           from (select ss_item_sk item_sk,avg(ss_net_profit) rank_col
      |                 from store_sales ss1
      |                 where ss_store_sk = 1
      |                 group by ss_item_sk
      |                 having avg(ss_net_profit) > 0.9*(select avg(ss_net_profit) rank_col
      |                                                  from store_sales
      |                                                  where ss_store_sk = 1
      |                                                    and ss_customer_sk is null
      |                                                  group by ss_store_sk))V2)V21
      |     where rnk  < 11) descending,
      |item i1,
      |item i2
      |where asceding.rnk = descending.rnk 
      |  and i1.i_item_sk=asceding.item_sk
      |  and i2.i_item_sk=descending.item_sk
      |order by asceding.rnk
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q30.sql
  private val Q30: String =
    """with customer_total_return as
      | (select wr_returning_customer_sk as ctr_customer_sk
      |        ,ca_state as ctr_state, 
      | 	sum(wr_return_amt) as ctr_total_return
      | from web_returns
      |     ,date_dim
      |     ,customer_address
      | where wr_returned_date_sk = d_date_sk 
      |   and d_year =1999
      |   and wr_returning_addr_sk = ca_address_sk 
      | group by wr_returning_customer_sk
      |         ,ca_state)
      |  select  c_customer_id,c_salutation,c_first_name,c_last_name,c_preferred_cust_flag
      |       ,c_birth_day,c_birth_month,c_birth_year,c_birth_country,c_login,c_email_address
      |       ,c_last_review_date,ctr_total_return
      | from customer_total_return ctr1
      |     ,customer_address
      |     ,customer
      | where ctr1.ctr_total_return > (select avg(ctr_total_return)*1.2
      | 			  from customer_total_return ctr2 
      |                  	  where ctr1.ctr_state = ctr2.ctr_state)
      |       and ca_address_sk = c_current_addr_sk
      |       and ca_state = 'TN'
      |       and ctr1.ctr_customer_sk = c_customer_sk
      | order by c_customer_id,c_salutation,c_first_name,c_last_name,c_preferred_cust_flag
      |                  ,c_birth_day,c_birth_month,c_birth_year,c_birth_country,c_login,c_email_address
      |                  ,c_last_review_date,ctr_total_return
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q81.sql
  private val Q81: String =
    """with customer_total_return as
      | (select cr_returning_customer_sk as ctr_customer_sk
      |        ,ca_state as ctr_state, 
      | 	sum(cr_return_amt_inc_tax) as ctr_total_return
      | from catalog_returns
      |     ,date_dim
      |     ,customer_address
      | where cr_returned_date_sk = d_date_sk 
      |   and d_year =1998
      |   and cr_returning_addr_sk = ca_address_sk 
      | group by cr_returning_customer_sk
      |         ,ca_state )
      |  select  c_customer_id,c_salutation,c_first_name,c_last_name,ca_street_number,ca_street_name
      |                   ,ca_street_type,ca_suite_number,ca_city,ca_county,ca_state,ca_zip,ca_country,ca_gmt_offset
      |                  ,ca_location_type,ctr_total_return
      | from customer_total_return ctr1
      |     ,customer_address
      |     ,customer
      | where ctr1.ctr_total_return > (select avg(ctr_total_return)*1.2
      | 			  from customer_total_return ctr2 
      |                  	  where ctr1.ctr_state = ctr2.ctr_state)
      |       and ca_address_sk = c_current_addr_sk
      |       and ca_state = 'TN'
      |       and ctr1.ctr_customer_sk = c_customer_sk
      | order by c_customer_id,c_salutation,c_first_name,c_last_name,ca_street_number,ca_street_name
      |                   ,ca_street_type,ca_suite_number,ca_city,ca_county,ca_state,ca_zip,ca_country,ca_gmt_offset
      |                  ,ca_location_type,ctr_total_return
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q25.sql
  private val Q25: String =
    """select  
      | i_item_id
      | ,i_item_desc
      | ,s_store_id
      | ,s_store_name
      | ,sum(ss_net_profit) as store_sales_profit
      | ,sum(sr_net_loss) as store_returns_loss
      | ,sum(cs_net_profit) as catalog_sales_profit
      | from
      | store_sales
      | ,store_returns
      | ,catalog_sales
      | ,date_dim d1
      | ,date_dim d2
      | ,date_dim d3
      | ,store
      | ,item
      | where
      | d1.d_moy = 4
      | and d1.d_year = 1998
      | and d1.d_date_sk = ss_sold_date_sk
      | and i_item_sk = ss_item_sk
      | and s_store_sk = ss_store_sk
      | and ss_customer_sk = sr_customer_sk
      | and ss_item_sk = sr_item_sk
      | and ss_ticket_number = sr_ticket_number
      | and sr_returned_date_sk = d2.d_date_sk
      | and d2.d_moy               between 4 and  10
      | and d2.d_year              = 1998
      | and sr_customer_sk = cs_bill_customer_sk
      | and sr_item_sk = cs_item_sk
      | and cs_sold_date_sk = d3.d_date_sk
      | and d3.d_moy               between 4 and  10 
      | and d3.d_year              = 1998
      | group by
      | i_item_id
      | ,i_item_desc
      | ,s_store_id
      | ,s_store_name
      | order by
      | i_item_id
      | ,i_item_desc
      | ,s_store_id
      | ,s_store_name
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q29.sql
  private val Q29: String =
    """select   
      |     i_item_id
      |    ,i_item_desc
      |    ,s_store_id
      |    ,s_store_name
      |    ,sum(ss_quantity)        as store_sales_quantity
      |    ,sum(sr_return_quantity) as store_returns_quantity
      |    ,sum(cs_quantity)        as catalog_sales_quantity
      | from
      |    store_sales
      |   ,store_returns
      |   ,catalog_sales
      |   ,date_dim             d1
      |   ,date_dim             d2
      |   ,date_dim             d3
      |   ,store
      |   ,item
      | where
      |     d1.d_moy               = 4 
      | and d1.d_year              = 1998
      | and d1.d_date_sk           = ss_sold_date_sk
      | and i_item_sk              = ss_item_sk
      | and s_store_sk             = ss_store_sk
      | and ss_customer_sk         = sr_customer_sk
      | and ss_item_sk             = sr_item_sk
      | and ss_ticket_number       = sr_ticket_number
      | and sr_returned_date_sk    = d2.d_date_sk
      | and d2.d_moy               between 4 and  4 + 3 
      | and d2.d_year              = 1998
      | and sr_customer_sk         = cs_bill_customer_sk
      | and sr_item_sk             = cs_item_sk
      | and cs_sold_date_sk        = d3.d_date_sk     
      | and d3.d_year              in (1998,1998+1,1998+2)
      | group by
      |    i_item_id
      |   ,i_item_desc
      |   ,s_store_id
      |   ,s_store_name
      | order by
      |    i_item_id 
      |   ,i_item_desc
      |   ,s_store_id
      |   ,s_store_name
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q17.sql
  private val Q17: String =
    """select  i_item_id
      |       ,i_item_desc
      |       ,s_state
      |       ,count(ss_quantity) as store_sales_quantitycount
      |       ,avg(ss_quantity) as store_sales_quantityave
      |       ,stddev_samp(ss_quantity) as store_sales_quantitystdev
      |       ,stddev_samp(ss_quantity)/avg(ss_quantity) as store_sales_quantitycov
      |       ,count(sr_return_quantity) as store_returns_quantitycount
      |       ,avg(sr_return_quantity) as store_returns_quantityave
      |       ,stddev_samp(sr_return_quantity) as store_returns_quantitystdev
      |       ,stddev_samp(sr_return_quantity)/avg(sr_return_quantity) as store_returns_quantitycov
      |       ,count(cs_quantity) as catalog_sales_quantitycount ,avg(cs_quantity) as catalog_sales_quantityave
      |       ,stddev_samp(cs_quantity) as catalog_sales_quantitystdev
      |       ,stddev_samp(cs_quantity)/avg(cs_quantity) as catalog_sales_quantitycov
      | from store_sales
      |     ,store_returns
      |     ,catalog_sales
      |     ,date_dim d1
      |     ,date_dim d2
      |     ,date_dim d3
      |     ,store
      |     ,item
      | where d1.d_quarter_name = '1998Q1'
      |   and d1.d_date_sk = ss_sold_date_sk
      |   and i_item_sk = ss_item_sk
      |   and s_store_sk = ss_store_sk
      |   and ss_customer_sk = sr_customer_sk
      |   and ss_item_sk = sr_item_sk
      |   and ss_ticket_number = sr_ticket_number
      |   and sr_returned_date_sk = d2.d_date_sk
      |   and d2.d_quarter_name in ('1998Q1','1998Q2','1998Q3')
      |   and sr_customer_sk = cs_bill_customer_sk
      |   and sr_item_sk = cs_item_sk
      |   and cs_sold_date_sk = d3.d_date_sk
      |   and d3.d_quarter_name in ('1998Q1','1998Q2','1998Q3')
      | group by i_item_id
      |         ,i_item_desc
      |         ,s_state
      | order by i_item_id
      |         ,i_item_desc
      |         ,s_state
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q83.sql
  private val Q83: String =
    """with sr_items as
      | (select i_item_id item_id,
      |        sum(sr_return_quantity) sr_item_qty
      | from store_returns,
      |      item,
      |      date_dim
      | where sr_item_sk = i_item_sk
      | and   d_date    in 
      |	(select d_date
      |	from date_dim
      |	where d_week_seq in 
      |		(select d_week_seq
      |		from date_dim
      |	  where d_date in ('1998-01-02','1998-08-02','1998-11-02')))
      | and   sr_returned_date_sk   = d_date_sk
      | group by i_item_id),
      | cr_items as
      | (select i_item_id item_id,
      |        sum(cr_return_quantity) cr_item_qty
      | from catalog_returns,
      |      item,
      |      date_dim
      | where cr_item_sk = i_item_sk
      | and   d_date    in 
      |	(select d_date
      |	from date_dim
      |	where d_week_seq in 
      |		(select d_week_seq
      |		from date_dim
      |	  where d_date in ('1998-01-02','1998-08-02','1998-11-02')))
      | and   cr_returned_date_sk   = d_date_sk
      | group by i_item_id),
      | wr_items as
      | (select i_item_id item_id,
      |        sum(wr_return_quantity) wr_item_qty
      | from web_returns,
      |      item,
      |      date_dim
      | where wr_item_sk = i_item_sk
      | and   d_date    in 
      |	(select d_date
      |	from date_dim
      |	where d_week_seq in 
      |		(select d_week_seq
      |		from date_dim
      |		where d_date in ('1998-01-02','1998-08-02','1998-11-02')))
      | and   wr_returned_date_sk   = d_date_sk
      | group by i_item_id)
      |  select  sr_items.item_id
      |       ,sr_item_qty
      |       ,sr_item_qty/(sr_item_qty+cr_item_qty+wr_item_qty)/3.0 * 100 sr_dev
      |       ,cr_item_qty
      |       ,cr_item_qty/(sr_item_qty+cr_item_qty+wr_item_qty)/3.0 * 100 cr_dev
      |       ,wr_item_qty
      |       ,wr_item_qty/(sr_item_qty+cr_item_qty+wr_item_qty)/3.0 * 100 wr_dev
      |       ,(sr_item_qty+cr_item_qty+wr_item_qty)/3.0 average
      | from sr_items
      |     ,cr_items
      |     ,wr_items
      | where sr_items.item_id=cr_items.item_id
      |   and sr_items.item_id=wr_items.item_id 
      | order by sr_items.item_id
      |         ,sr_item_qty
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q10.sql
  private val Q10: String =
    """select  
      |  cd_gender,
      |  cd_marital_status,
      |  cd_education_status,
      |  count(*) cnt1,
      |  cd_purchase_estimate,
      |  count(*) cnt2,
      |  cd_credit_rating,
      |  count(*) cnt3,
      |  cd_dep_count,
      |  count(*) cnt4,
      |  cd_dep_employed_count,
      |  count(*) cnt5,
      |  cd_dep_college_count,
      |  count(*) cnt6
      | from
      |  customer c,customer_address ca,customer_demographics
      | where
      |  c.c_current_addr_sk = ca.ca_address_sk and
      |  ca_county in ('Washington County','Williamson County','Ziebach County','Walker County','Fairfield County') and
      |  cd_demo_sk = c.c_current_cdemo_sk and 
      |  exists (select *
      |          from store_sales,date_dim
      |          where c.c_customer_sk = ss_customer_sk and
      |                ss_sold_date_sk = d_date_sk and
      |                d_year = 1999 and
      |                d_moy between 1 and 1+3) and
      |   (exists (select *
      |            from web_sales,date_dim
      |            where c.c_customer_sk = ws_bill_customer_sk and
      |                  ws_sold_date_sk = d_date_sk and
      |                  d_year = 1999 and
      |                  d_moy between 1 ANd 1+3) or 
      |    exists (select * 
      |            from catalog_sales,date_dim
      |            where c.c_customer_sk = cs_ship_customer_sk and
      |                  cs_sold_date_sk = d_date_sk and
      |                  d_year = 1999 and
      |                  d_moy between 1 and 1+3))
      | group by cd_gender,
      |          cd_marital_status,
      |          cd_education_status,
      |          cd_purchase_estimate,
      |          cd_credit_rating,
      |          cd_dep_count,
      |          cd_dep_employed_count,
      |          cd_dep_college_count
      | order by cd_gender,
      |          cd_marital_status,
      |          cd_education_status,
      |          cd_purchase_estimate,
      |          cd_credit_rating,
      |          cd_dep_count,
      |          cd_dep_employed_count,
      |          cd_dep_college_count
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q35.sql
  private val Q35: String =
    """select   
      |  ca_state,
      |  cd_gender,
      |  cd_marital_status,
      |  cd_dep_count,
      |  count(*) cnt1,
      |  sum(cd_dep_count),
      |  sum(cd_dep_count),
      |  sum(cd_dep_count),
      |  cd_dep_employed_count,
      |  count(*) cnt2,
      |  sum(cd_dep_employed_count),
      |  sum(cd_dep_employed_count),
      |  sum(cd_dep_employed_count),
      |  cd_dep_college_count,
      |  count(*) cnt3,
      |  sum(cd_dep_college_count),
      |  sum(cd_dep_college_count),
      |  sum(cd_dep_college_count)
      | from
      |  customer c,customer_address ca,customer_demographics
      | where
      |  c.c_current_addr_sk = ca.ca_address_sk and
      |  cd_demo_sk = c.c_current_cdemo_sk and 
      |  exists (select *
      |          from store_sales,date_dim
      |          where c.c_customer_sk = ss_customer_sk and
      |                ss_sold_date_sk = d_date_sk and
      |                d_year = 1999 and
      |                d_qoy < 4) and
      |   (exists (select *
      |            from web_sales,date_dim
      |            where c.c_customer_sk = ws_bill_customer_sk and
      |                  ws_sold_date_sk = d_date_sk and
      |                  d_year = 1999 and
      |                  d_qoy < 4) or 
      |    exists (select * 
      |            from catalog_sales,date_dim
      |            where c.c_customer_sk = cs_ship_customer_sk and
      |                  cs_sold_date_sk = d_date_sk and
      |                  d_year = 1999 and
      |                  d_qoy < 4))
      | group by ca_state,
      |          cd_gender,
      |          cd_marital_status,
      |          cd_dep_count,
      |          cd_dep_employed_count,
      |          cd_dep_college_count
      | order by ca_state,
      |          cd_gender,
      |          cd_marital_status,
      |          cd_dep_count,
      |          cd_dep_employed_count,
      |          cd_dep_college_count
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q69.sql
  private val Q69: String =
    """select  
      |  cd_gender,
      |  cd_marital_status,
      |  cd_education_status,
      |  count(*) cnt1,
      |  cd_purchase_estimate,
      |  count(*) cnt2,
      |  cd_credit_rating,
      |  count(*) cnt3
      | from
      |  customer c,customer_address ca,customer_demographics
      | where
      |  c.c_current_addr_sk = ca.ca_address_sk and
      |  ca_state in ('ID','TN','SD') and
      |  cd_demo_sk = c.c_current_cdemo_sk and 
      |  exists (select *
      |          from store_sales,date_dim
      |          where c.c_customer_sk = ss_customer_sk and
      |                ss_sold_date_sk = d_date_sk and
      |                d_year = 1999 and
      |                d_moy between 1 and 1+2) and
      |   (not exists (select *
      |            from web_sales,date_dim
      |            where c.c_customer_sk = ws_bill_customer_sk and
      |                  ws_sold_date_sk = d_date_sk and
      |                  d_year = 1999 and
      |                  d_moy between 1 and 1+2) and
      |    not exists (select * 
      |            from catalog_sales,date_dim
      |            where c.c_customer_sk = cs_ship_customer_sk and
      |                  cs_sold_date_sk = d_date_sk and
      |                  d_year = 1999 and
      |                  d_moy between 1 and 1+2))
      | group by cd_gender,
      |          cd_marital_status,
      |          cd_education_status,
      |          cd_purchase_estimate,
      |          cd_credit_rating
      | order by cd_gender,
      |          cd_marital_status,
      |          cd_education_status,
      |          cd_purchase_estimate,
      |          cd_credit_rating
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q58.sql
  private val Q58: String =
    """with ss_items as
      | (select i_item_id item_id
      |        ,sum(ss_ext_sales_price) ss_item_rev 
      | from store_sales
      |     ,item
      |     ,date_dim
      | where ss_item_sk = i_item_sk
      |   and d_date in (select d_date
      |                  from date_dim
      |                  where d_week_seq = (select d_week_seq 
      |                                      from date_dim
      |                                      where d_date = '1998-01-02'))
      |   and ss_sold_date_sk   = d_date_sk
      | group by i_item_id),
      | cs_items as
      | (select i_item_id item_id
      |        ,sum(cs_ext_sales_price) cs_item_rev
      |  from catalog_sales
      |      ,item
      |      ,date_dim
      | where cs_item_sk = i_item_sk
      |  and  d_date in (select d_date
      |                  from date_dim
      |                  where d_week_seq = (select d_week_seq 
      |                                      from date_dim
      |                                      where d_date = '1998-01-02'))
      |  and  cs_sold_date_sk = d_date_sk
      | group by i_item_id),
      | ws_items as
      | (select i_item_id item_id
      |        ,sum(ws_ext_sales_price) ws_item_rev
      |  from web_sales
      |      ,item
      |      ,date_dim
      | where ws_item_sk = i_item_sk
      |  and  d_date in (select d_date
      |                  from date_dim
      |                  where d_week_seq =(select d_week_seq 
      |                                     from date_dim
      |                                     where d_date = '1998-01-02'))
      |  and ws_sold_date_sk   = d_date_sk
      | group by i_item_id)
      |  select  ss_items.item_id
      |       ,ss_item_rev
      |       ,ss_item_rev/((ss_item_rev+cs_item_rev+ws_item_rev)/3) * 100 ss_dev
      |       ,cs_item_rev
      |       ,cs_item_rev/((ss_item_rev+cs_item_rev+ws_item_rev)/3) * 100 cs_dev
      |       ,ws_item_rev
      |       ,ws_item_rev/((ss_item_rev+cs_item_rev+ws_item_rev)/3) * 100 ws_dev
      |       ,(ss_item_rev+cs_item_rev+ws_item_rev)/3 average
      | from ss_items,cs_items,ws_items
      | where ss_items.item_id=cs_items.item_id
      |   and ss_items.item_id=ws_items.item_id 
      |   and ss_item_rev between 0.9 * cs_item_rev and 1.1 * cs_item_rev
      |   and ss_item_rev between 0.9 * ws_item_rev and 1.1 * ws_item_rev
      |   and cs_item_rev between 0.9 * ss_item_rev and 1.1 * ss_item_rev
      |   and cs_item_rev between 0.9 * ws_item_rev and 1.1 * ws_item_rev
      |   and ws_item_rev between 0.9 * ss_item_rev and 1.1 * ss_item_rev
      |   and ws_item_rev between 0.9 * cs_item_rev and 1.1 * cs_item_rev
      | order by item_id
      |         ,ss_item_rev
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q23a.sql
  private val Q23A: String =
    """with frequent_ss_items as 
      | (select substr(i_item_desc,1,30) itemdesc,i_item_sk item_sk,d_date solddate,count(*) cnt
      |  from store_sales
      |      ,date_dim 
      |      ,item
      |  where ss_sold_date_sk = d_date_sk
      |    and ss_item_sk = i_item_sk 
      |    and d_year in (1998,1998+1,1998+2,1998+3)
      |  group by substr(i_item_desc,1,30),i_item_sk,d_date
      |  having count(*) >4),
      | max_store_sales as
      | (select max(csales) tpcds_cmax 
      |  from (select c_customer_sk,sum(ss_quantity*ss_sales_price) csales
      |        from store_sales
      |            ,customer
      |            ,date_dim 
      |        where ss_customer_sk = c_customer_sk
      |         and ss_sold_date_sk = d_date_sk
      |         and d_year in (1998,1998+1,1998+2,1998+3) 
      |        group by c_customer_sk)),
      | best_ss_customer as
      | (select c_customer_sk,sum(ss_quantity*ss_sales_price) ssales
      |  from store_sales
      |      ,customer
      |  where ss_customer_sk = c_customer_sk
      |  group by c_customer_sk
      |  having sum(ss_quantity*ss_sales_price) > (95/100.0) * (select
      |  *
      |from
      | max_store_sales))
      |  select  sum(sales)
      | from (select cs_quantity*cs_list_price sales
      |       from catalog_sales
      |           ,date_dim 
      |       where d_year = 1998 
      |         and d_moy = 1 
      |         and cs_sold_date_sk = d_date_sk 
      |         and cs_item_sk in (select item_sk from frequent_ss_items)
      |         and cs_bill_customer_sk in (select c_customer_sk from best_ss_customer)
      |      union all
      |      select ws_quantity*ws_list_price sales
      |       from web_sales 
      |           ,date_dim 
      |       where d_year = 1998 
      |         and d_moy = 1 
      |         and ws_sold_date_sk = d_date_sk 
      |         and ws_item_sk in (select item_sk from frequent_ss_items)
      |         and ws_bill_customer_sk in (select c_customer_sk from best_ss_customer)) 
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q62.sql
  private val Q62: String =
    """select  
      |   substr(w_warehouse_name,1,20)
      |  ,sm_type
      |  ,web_name
      |  ,sum(case when (ws_ship_date_sk - ws_sold_date_sk <= 30 ) then 1 else 0 end)  as `30 days `
      |  ,sum(case when (ws_ship_date_sk - ws_sold_date_sk > 30) and 
      |                 (ws_ship_date_sk - ws_sold_date_sk <= 60) then 1 else 0 end )  as `31-60 days `
      |  ,sum(case when (ws_ship_date_sk - ws_sold_date_sk > 60) and 
      |                 (ws_ship_date_sk - ws_sold_date_sk <= 90) then 1 else 0 end)  as `61-90 days `
      |  ,sum(case when (ws_ship_date_sk - ws_sold_date_sk > 90) and
      |                 (ws_ship_date_sk - ws_sold_date_sk <= 120) then 1 else 0 end)  as `91-120 days `
      |  ,sum(case when (ws_ship_date_sk - ws_sold_date_sk  > 120) then 1 else 0 end)  as `>120 days `
      |from
      |   web_sales
      |  ,warehouse
      |  ,ship_mode
      |  ,web_site
      |  ,date_dim
      |where
      |    d_month_seq between 1176 and 1176 + 11
      |and ws_ship_date_sk   = d_date_sk
      |and ws_warehouse_sk   = w_warehouse_sk
      |and ws_ship_mode_sk   = sm_ship_mode_sk
      |and ws_web_site_sk    = web_site_sk
      |group by
      |   substr(w_warehouse_name,1,20)
      |  ,sm_type
      |  ,web_name
      |order by substr(w_warehouse_name,1,20)
      |        ,sm_type
      |       ,web_name
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q99.sql
  private val Q99: String =
    """select  
      |   substr(w_warehouse_name,1,20)
      |  ,sm_type
      |  ,cc_name
      |  ,sum(case when (cs_ship_date_sk - cs_sold_date_sk <= 30 ) then 1 else 0 end)  as `30 days `
      |  ,sum(case when (cs_ship_date_sk - cs_sold_date_sk > 30) and 
      |                 (cs_ship_date_sk - cs_sold_date_sk <= 60) then 1 else 0 end )  as `31-60 days `
      |  ,sum(case when (cs_ship_date_sk - cs_sold_date_sk > 60) and 
      |                 (cs_ship_date_sk - cs_sold_date_sk <= 90) then 1 else 0 end)  as `61-90 days `
      |  ,sum(case when (cs_ship_date_sk - cs_sold_date_sk > 90) and
      |                 (cs_ship_date_sk - cs_sold_date_sk <= 120) then 1 else 0 end)  as `91-120 days `
      |  ,sum(case when (cs_ship_date_sk - cs_sold_date_sk  > 120) then 1 else 0 end)  as `>120 days `
      |from
      |   catalog_sales
      |  ,warehouse
      |  ,ship_mode
      |  ,call_center
      |  ,date_dim
      |where
      |    d_month_seq between 1176 and 1176 + 11
      |and cs_ship_date_sk   = d_date_sk
      |and cs_warehouse_sk   = w_warehouse_sk
      |and cs_ship_mode_sk   = sm_ship_mode_sk
      |and cs_call_center_sk = cc_call_center_sk
      |group by
      |   substr(w_warehouse_name,1,20)
      |  ,sm_type
      |  ,cc_name
      |order by substr(w_warehouse_name,1,20)
      |        ,sm_type
      |        ,cc_name
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q94.sql
  private val Q94: String =
    """select  
      |   count(distinct ws_order_number) as `order count `
      |  ,sum(ws_ext_ship_cost) as `total shipping cost `
      |  ,sum(ws_net_profit) as `total net profit `
      |from
      |   web_sales ws1
      |  ,date_dim
      |  ,customer_address
      |  ,web_site
      |where
      |    d_date between '1999-02-01' and
      |           (cast('1999-02-01' as date) + INTERVAL '60' day)
      |and ws1.ws_ship_date_sk = d_date_sk
      |and ws1.ws_ship_addr_sk = ca_address_sk
      |and ca_state = 'TN'
      |and ws1.ws_web_site_sk = web_site_sk
      |and web_company_name = 'pri'
      |and exists (select *
      |            from web_sales ws2
      |            where ws1.ws_order_number = ws2.ws_order_number
      |              and ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
      |and not exists(select *
      |               from web_returns wr1
      |               where ws1.ws_order_number = wr1.wr_order_number)
      |order by count(distinct ws_order_number)
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q95.sql
  private val Q95: String =
    """with ws_wh as
      |(select ws1.ws_order_number,ws1.ws_warehouse_sk wh1,ws2.ws_warehouse_sk wh2
      | from web_sales ws1,web_sales ws2
      | where ws1.ws_order_number = ws2.ws_order_number
      |   and ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
      | select  
      |   count(distinct ws_order_number) as `order count `
      |  ,sum(ws_ext_ship_cost) as `total shipping cost `
      |  ,sum(ws_net_profit) as `total net profit `
      |from
      |   web_sales ws1
      |  ,date_dim
      |  ,customer_address
      |  ,web_site
      |where
      |    d_date between '1999-02-01' and
      |           (cast('1999-02-01' as date) + INTERVAL '60' day)
      |and ws1.ws_ship_date_sk = d_date_sk
      |and ws1.ws_ship_addr_sk = ca_address_sk
      |and ca_state = 'TN'
      |and ws1.ws_web_site_sk = web_site_sk
      |and web_company_name = 'pri'
      |and ws1.ws_order_number in (select ws_order_number
      |                            from ws_wh)
      |and ws1.ws_order_number in (select wr_order_number
      |                            from web_returns,ws_wh
      |                            where wr_order_number = ws_wh.ws_order_number)
      |order by count(distinct ws_order_number)
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q91.sql
  private val Q91: String =
    """select  
      |        cc_call_center_id Call_Center,
      |        cc_name Call_Center_Name,
      |        cc_manager Manager,
      |        sum(cr_net_loss) Returns_Loss
      |from
      |        call_center,
      |        catalog_returns,
      |        date_dim,
      |        customer,
      |        customer_address,
      |        customer_demographics,
      |        household_demographics
      |where
      |        cr_call_center_sk       = cc_call_center_sk
      |and     cr_returned_date_sk     = d_date_sk
      |and     cr_returning_customer_sk= c_customer_sk
      |and     cd_demo_sk              = c_current_cdemo_sk
      |and     hd_demo_sk              = c_current_hdemo_sk
      |and     ca_address_sk           = c_current_addr_sk
      |and     d_year                  = 1998 
      |and     d_moy                   = 11
      |and     ( (cd_marital_status       = 'M' and cd_education_status     = 'Unknown')
      |        or(cd_marital_status       = 'W' and cd_education_status     = 'Advanced Degree'))
      |and     hd_buy_potential like '1001-5000%'
      |and     ca_gmt_offset           = -6
      |group by cc_call_center_id,cc_name,cc_manager,cd_marital_status,cd_education_status
      |order by sum(cr_net_loss) desc""".stripMargin

  // reference: tpcds/queries/1/q66.sql
  private val Q66: String =
    """select   
      |         w_warehouse_name
      | 	,w_warehouse_sq_ft
      | 	,w_city
      | 	,w_county
      | 	,w_state
      | 	,w_country
      |        ,ship_carriers
      |        ,`year`
      | 	,sum(jan_sales) as jan_sales
      | 	,sum(feb_sales) as feb_sales
      | 	,sum(mar_sales) as mar_sales
      | 	,sum(apr_sales) as apr_sales
      | 	,sum(may_sales) as may_sales
      | 	,sum(jun_sales) as jun_sales
      | 	,sum(jul_sales) as jul_sales
      | 	,sum(aug_sales) as aug_sales
      | 	,sum(sep_sales) as sep_sales
      | 	,sum(oct_sales) as oct_sales
      | 	,sum(nov_sales) as nov_sales
      | 	,sum(dec_sales) as dec_sales
      | 	,sum(jan_sales/w_warehouse_sq_ft) as jan_sales_per_sq_foot
      | 	,sum(feb_sales/w_warehouse_sq_ft) as feb_sales_per_sq_foot
      | 	,sum(mar_sales/w_warehouse_sq_ft) as mar_sales_per_sq_foot
      | 	,sum(apr_sales/w_warehouse_sq_ft) as apr_sales_per_sq_foot
      | 	,sum(may_sales/w_warehouse_sq_ft) as may_sales_per_sq_foot
      | 	,sum(jun_sales/w_warehouse_sq_ft) as jun_sales_per_sq_foot
      | 	,sum(jul_sales/w_warehouse_sq_ft) as jul_sales_per_sq_foot
      | 	,sum(aug_sales/w_warehouse_sq_ft) as aug_sales_per_sq_foot
      | 	,sum(sep_sales/w_warehouse_sq_ft) as sep_sales_per_sq_foot
      | 	,sum(oct_sales/w_warehouse_sq_ft) as oct_sales_per_sq_foot
      | 	,sum(nov_sales/w_warehouse_sq_ft) as nov_sales_per_sq_foot
      | 	,sum(dec_sales/w_warehouse_sq_ft) as dec_sales_per_sq_foot
      | 	,sum(jan_net) as jan_net
      | 	,sum(feb_net) as feb_net
      | 	,sum(mar_net) as mar_net
      | 	,sum(apr_net) as apr_net
      | 	,sum(may_net) as may_net
      | 	,sum(jun_net) as jun_net
      | 	,sum(jul_net) as jul_net
      | 	,sum(aug_net) as aug_net
      | 	,sum(sep_net) as sep_net
      | 	,sum(oct_net) as oct_net
      | 	,sum(nov_net) as nov_net
      | 	,sum(dec_net) as dec_net
      | from (
      |     select 
      | 	w_warehouse_name
      | 	,w_warehouse_sq_ft
      | 	,w_city
      | 	,w_county
      | 	,w_state
      | 	,w_country
      | 	,'PRIVATECARRIER' || ',' || 'UPS' as ship_carriers
      |       ,d_year as `year`
      | 	,sum(case when d_moy = 1 
      | 		then ws_sales_price* ws_quantity else 0 end) as jan_sales
      | 	,sum(case when d_moy = 2 
      | 		then ws_sales_price* ws_quantity else 0 end) as feb_sales
      | 	,sum(case when d_moy = 3 
      | 		then ws_sales_price* ws_quantity else 0 end) as mar_sales
      | 	,sum(case when d_moy = 4 
      | 		then ws_sales_price* ws_quantity else 0 end) as apr_sales
      | 	,sum(case when d_moy = 5 
      | 		then ws_sales_price* ws_quantity else 0 end) as may_sales
      | 	,sum(case when d_moy = 6 
      | 		then ws_sales_price* ws_quantity else 0 end) as jun_sales
      | 	,sum(case when d_moy = 7 
      | 		then ws_sales_price* ws_quantity else 0 end) as jul_sales
      | 	,sum(case when d_moy = 8 
      | 		then ws_sales_price* ws_quantity else 0 end) as aug_sales
      | 	,sum(case when d_moy = 9 
      | 		then ws_sales_price* ws_quantity else 0 end) as sep_sales
      | 	,sum(case when d_moy = 10 
      | 		then ws_sales_price* ws_quantity else 0 end) as oct_sales
      | 	,sum(case when d_moy = 11
      | 		then ws_sales_price* ws_quantity else 0 end) as nov_sales
      | 	,sum(case when d_moy = 12
      | 		then ws_sales_price* ws_quantity else 0 end) as dec_sales
      | 	,sum(case when d_moy = 1 
      | 		then ws_net_paid * ws_quantity else 0 end) as jan_net
      | 	,sum(case when d_moy = 2
      | 		then ws_net_paid * ws_quantity else 0 end) as feb_net
      | 	,sum(case when d_moy = 3 
      | 		then ws_net_paid * ws_quantity else 0 end) as mar_net
      | 	,sum(case when d_moy = 4 
      | 		then ws_net_paid * ws_quantity else 0 end) as apr_net
      | 	,sum(case when d_moy = 5 
      | 		then ws_net_paid * ws_quantity else 0 end) as may_net
      | 	,sum(case when d_moy = 6 
      | 		then ws_net_paid * ws_quantity else 0 end) as jun_net
      | 	,sum(case when d_moy = 7 
      | 		then ws_net_paid * ws_quantity else 0 end) as jul_net
      | 	,sum(case when d_moy = 8 
      | 		then ws_net_paid * ws_quantity else 0 end) as aug_net
      | 	,sum(case when d_moy = 9 
      | 		then ws_net_paid * ws_quantity else 0 end) as sep_net
      | 	,sum(case when d_moy = 10 
      | 		then ws_net_paid * ws_quantity else 0 end) as oct_net
      | 	,sum(case when d_moy = 11
      | 		then ws_net_paid * ws_quantity else 0 end) as nov_net
      | 	,sum(case when d_moy = 12
      | 		then ws_net_paid * ws_quantity else 0 end) as dec_net
      |     from
      |          web_sales
      |         ,warehouse
      |         ,date_dim
      |         ,time_dim
      | 	  ,ship_mode
      |     where
      |            ws_warehouse_sk =  w_warehouse_sk
      |        and ws_sold_date_sk = d_date_sk
      |        and ws_sold_time_sk = t_time_sk
      | 	and ws_ship_mode_sk = sm_ship_mode_sk
      |        and d_year = 1998
      | 	and t_time between 1 and 1+28800 
      | 	and sm_carrier in ('PRIVATECARRIER','UPS')
      |     group by 
      |        w_warehouse_name
      | 	,w_warehouse_sq_ft
      | 	,w_city
      | 	,w_county
      | 	,w_state
      | 	,w_country
      |       ,d_year
      | union all
      |     select 
      | 	w_warehouse_name
      | 	,w_warehouse_sq_ft
      | 	,w_city
      | 	,w_county
      | 	,w_state
      | 	,w_country
      | 	,'PRIVATECARRIER' || ',' || 'UPS' as ship_carriers
      |       ,d_year as `year`
      | 	,sum(case when d_moy = 1 
      | 		then cs_sales_price* cs_quantity else 0 end) as jan_sales
      | 	,sum(case when d_moy = 2 
      | 		then cs_sales_price* cs_quantity else 0 end) as feb_sales
      | 	,sum(case when d_moy = 3 
      | 		then cs_sales_price* cs_quantity else 0 end) as mar_sales
      | 	,sum(case when d_moy = 4 
      | 		then cs_sales_price* cs_quantity else 0 end) as apr_sales
      | 	,sum(case when d_moy = 5 
      | 		then cs_sales_price* cs_quantity else 0 end) as may_sales
      | 	,sum(case when d_moy = 6 
      | 		then cs_sales_price* cs_quantity else 0 end) as jun_sales
      | 	,sum(case when d_moy = 7 
      | 		then cs_sales_price* cs_quantity else 0 end) as jul_sales
      | 	,sum(case when d_moy = 8 
      | 		then cs_sales_price* cs_quantity else 0 end) as aug_sales
      | 	,sum(case when d_moy = 9 
      | 		then cs_sales_price* cs_quantity else 0 end) as sep_sales
      | 	,sum(case when d_moy = 10 
      | 		then cs_sales_price* cs_quantity else 0 end) as oct_sales
      | 	,sum(case when d_moy = 11
      | 		then cs_sales_price* cs_quantity else 0 end) as nov_sales
      | 	,sum(case when d_moy = 12
      | 		then cs_sales_price* cs_quantity else 0 end) as dec_sales
      | 	,sum(case when d_moy = 1 
      | 		then cs_net_paid * cs_quantity else 0 end) as jan_net
      | 	,sum(case when d_moy = 2 
      | 		then cs_net_paid * cs_quantity else 0 end) as feb_net
      | 	,sum(case when d_moy = 3 
      | 		then cs_net_paid * cs_quantity else 0 end) as mar_net
      | 	,sum(case when d_moy = 4 
      | 		then cs_net_paid * cs_quantity else 0 end) as apr_net
      | 	,sum(case when d_moy = 5 
      | 		then cs_net_paid * cs_quantity else 0 end) as may_net
      | 	,sum(case when d_moy = 6 
      | 		then cs_net_paid * cs_quantity else 0 end) as jun_net
      | 	,sum(case when d_moy = 7 
      | 		then cs_net_paid * cs_quantity else 0 end) as jul_net
      | 	,sum(case when d_moy = 8 
      | 		then cs_net_paid * cs_quantity else 0 end) as aug_net
      | 	,sum(case when d_moy = 9 
      | 		then cs_net_paid * cs_quantity else 0 end) as sep_net
      | 	,sum(case when d_moy = 10 
      | 		then cs_net_paid * cs_quantity else 0 end) as oct_net
      | 	,sum(case when d_moy = 11
      | 		then cs_net_paid * cs_quantity else 0 end) as nov_net
      | 	,sum(case when d_moy = 12
      | 		then cs_net_paid * cs_quantity else 0 end) as dec_net
      |     from
      |          catalog_sales
      |         ,warehouse
      |         ,date_dim
      |         ,time_dim
      | 	 ,ship_mode
      |     where
      |            cs_warehouse_sk =  w_warehouse_sk
      |        and cs_sold_date_sk = d_date_sk
      |        and cs_sold_time_sk = t_time_sk
      | 	and cs_ship_mode_sk = sm_ship_mode_sk
      |        and d_year = 1998
      | 	and t_time between 1 AND 1+28800 
      | 	and sm_carrier in ('PRIVATECARRIER','UPS')
      |     group by 
      |        w_warehouse_name
      | 	,w_warehouse_sq_ft
      | 	,w_city
      | 	,w_county
      | 	,w_state
      | 	,w_country
      |       ,d_year
      | ) x
      | group by 
      |        w_warehouse_name
      | 	,w_warehouse_sq_ft
      | 	,w_city
      | 	,w_county
      | 	,w_state
      | 	,w_country
      | 	,ship_carriers
      |       ,`year`
      | order by w_warehouse_name
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q16.sql
  private val Q16: String =
    """select  
      |   count(distinct cs_order_number) as  `order count`
      |  ,sum(cs_ext_ship_cost) as `total shipping cost`
      |  ,sum(cs_net_profit) as `total net profit`
      |from
      |   catalog_sales cs1
      |  ,date_dim
      |  ,customer_address
      |  ,call_center
      |where
      |    d_date between '1999-02-01' and
      |           (cast('1999-02-01' as date) + INTERVAL '60' day)
      |and cs1.cs_ship_date_sk = d_date_sk
      |and cs1.cs_ship_addr_sk = ca_address_sk
      |and ca_state = 'TN'
      |and cs1.cs_call_center_sk = cc_call_center_sk
      |and cc_county in ('Williamson County','Williamson County','Williamson County','Williamson County',
      |                  'Williamson County'
      |)
      |and exists (select *
      |            from catalog_sales cs2
      |            where cs1.cs_order_number = cs2.cs_order_number
      |              and cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
      |and not exists(select *
      |               from catalog_returns cr1
      |               where cs1.cs_order_number = cr1.cr_order_number)
      |order by count(distinct cs_order_number)
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q27.sql
  private val Q27: String =
    """select  i_item_id,
      |        s_state, grouping(s_state) g_state,
      |        avg(ss_quantity) agg1,
      |        avg(ss_list_price) agg2,
      |        avg(ss_coupon_amt) agg3,
      |        avg(ss_sales_price) agg4
      | from store_sales, customer_demographics, date_dim, store, item
      | where ss_sold_date_sk = d_date_sk and
      |       ss_item_sk = i_item_sk and
      |       ss_store_sk = s_store_sk and
      |       ss_cdemo_sk = cd_demo_sk and
      |       cd_gender = 'M' and
      |       cd_marital_status = 'M' and
      |       cd_education_status = 'Primary' and
      |       d_year = 1998 and
      |       s_state in ('TN','TN', 'TN', 'TN', 'TN', 'TN')
      | group by rollup (i_item_id, s_state)
      | order by i_item_id
      |         ,s_state
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q67.sql
  private val Q67: String =
    """select  *
      |from (select i_category
      |            ,i_class
      |            ,i_brand
      |            ,i_product_name
      |            ,d_year
      |            ,d_qoy
      |            ,d_moy
      |            ,s_store_id
      |            ,sumsales
      |            ,rank() over (partition by i_category order by sumsales desc) rk
      |      from (select i_category
      |                  ,i_class
      |                  ,i_brand
      |                  ,i_product_name
      |                  ,d_year
      |                  ,d_qoy
      |                  ,d_moy
      |                  ,s_store_id
      |                  ,sum(coalesce(ss_sales_price*ss_quantity,0)) sumsales
      |            from store_sales
      |                ,date_dim
      |                ,store
      |                ,item
      |       where  ss_sold_date_sk=d_date_sk
      |          and ss_item_sk=i_item_sk
      |          and ss_store_sk = s_store_sk
      |          and d_month_seq between 1176 and 1176+11
      |       group by  rollup(i_category, i_class, i_brand, i_product_name, d_year, d_qoy, d_moy,s_store_id))dw1) dw2
      |where rk <= 100
      |order by i_category
      |        ,i_class
      |        ,i_brand
      |        ,i_product_name
      |        ,d_year
      |        ,d_qoy
      |        ,d_moy
      |        ,s_store_id
      |        ,sumsales
      |        ,rk
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q14a.sql
  private val Q14A: String =
    """with  cross_items as
      | (select i_item_sk ss_item_sk
      | from item,
      | (select iss.i_brand_id brand_id
      |     ,iss.i_class_id class_id
      |     ,iss.i_category_id category_id
      | from store_sales
      |     ,item iss
      |     ,date_dim d1
      | where ss_item_sk = iss.i_item_sk
      |   and ss_sold_date_sk = d1.d_date_sk
      |   and d1.d_year between 1998 AND 1998 + 2
      | intersect 
      | select ics.i_brand_id
      |     ,ics.i_class_id
      |     ,ics.i_category_id
      | from catalog_sales
      |     ,item ics
      |     ,date_dim d2
      | where cs_item_sk = ics.i_item_sk
      |   and cs_sold_date_sk = d2.d_date_sk
      |   and d2.d_year between 1998 AND 1998 + 2
      | intersect
      | select iws.i_brand_id
      |     ,iws.i_class_id
      |     ,iws.i_category_id
      | from web_sales
      |     ,item iws
      |     ,date_dim d3
      | where ws_item_sk = iws.i_item_sk
      |   and ws_sold_date_sk = d3.d_date_sk
      |   and d3.d_year between 1998 AND 1998 + 2)
      | where i_brand_id = brand_id
      |      and i_class_id = class_id
      |      and i_category_id = category_id
      |),
      | avg_sales as
      | (select avg(quantity*list_price) average_sales
      |  from (select ss_quantity quantity
      |             ,ss_list_price list_price
      |       from store_sales
      |           ,date_dim
      |       where ss_sold_date_sk = d_date_sk
      |         and d_year between 1998 and 1998 + 2
      |       union all 
      |       select cs_quantity quantity 
      |             ,cs_list_price list_price
      |       from catalog_sales
      |           ,date_dim
      |       where cs_sold_date_sk = d_date_sk
      |         and d_year between 1998 and 1998 + 2 
      |       union all
      |       select ws_quantity quantity
      |             ,ws_list_price list_price
      |       from web_sales
      |           ,date_dim
      |       where ws_sold_date_sk = d_date_sk
      |         and d_year between 1998 and 1998 + 2) x)
      |  select  channel, i_brand_id,i_class_id,i_category_id,sum(sales), sum(number_sales)
      | from(
      |       select 'store' channel, i_brand_id,i_class_id
      |             ,i_category_id,sum(ss_quantity*ss_list_price) sales
      |             , count(*) number_sales
      |       from store_sales
      |           ,item
      |           ,date_dim
      |       where ss_item_sk in (select ss_item_sk from cross_items)
      |         and ss_item_sk = i_item_sk
      |         and ss_sold_date_sk = d_date_sk
      |         and d_year = 1998+2 
      |         and d_moy = 11
      |       group by i_brand_id,i_class_id,i_category_id
      |       having sum(ss_quantity*ss_list_price) > (select average_sales from avg_sales)
      |       union all
      |       select 'catalog' channel, i_brand_id,i_class_id,i_category_id, sum(cs_quantity*cs_list_price) sales, count(*) number_sales
      |       from catalog_sales
      |           ,item
      |           ,date_dim
      |       where cs_item_sk in (select ss_item_sk from cross_items)
      |         and cs_item_sk = i_item_sk
      |         and cs_sold_date_sk = d_date_sk
      |         and d_year = 1998+2 
      |         and d_moy = 11
      |       group by i_brand_id,i_class_id,i_category_id
      |       having sum(cs_quantity*cs_list_price) > (select average_sales from avg_sales)
      |       union all
      |       select 'web' channel, i_brand_id,i_class_id,i_category_id, sum(ws_quantity*ws_list_price) sales , count(*) number_sales
      |       from web_sales
      |           ,item
      |           ,date_dim
      |       where ws_item_sk in (select ss_item_sk from cross_items)
      |         and ws_item_sk = i_item_sk
      |         and ws_sold_date_sk = d_date_sk
      |         and d_year = 1998+2
      |         and d_moy = 11
      |       group by i_brand_id,i_class_id,i_category_id
      |       having sum(ws_quantity*ws_list_price) > (select average_sales from avg_sales)
      | ) y
      | group by rollup (channel, i_brand_id,i_class_id,i_category_id)
      | order by channel,i_brand_id,i_class_id,i_category_id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q14b.sql
  private val Q14B: String =
    """with  cross_items as
      | (select i_item_sk ss_item_sk
      | from item,
      | (select iss.i_brand_id brand_id
      |     ,iss.i_class_id class_id
      |     ,iss.i_category_id category_id
      | from store_sales
      |     ,item iss
      |     ,date_dim d1
      | where ss_item_sk = iss.i_item_sk
      |   and ss_sold_date_sk = d1.d_date_sk
      |   and d1.d_year between 1998 AND 1998 + 2
      | intersect
      | select ics.i_brand_id
      |     ,ics.i_class_id
      |     ,ics.i_category_id
      | from catalog_sales
      |     ,item ics
      |     ,date_dim d2
      | where cs_item_sk = ics.i_item_sk
      |   and cs_sold_date_sk = d2.d_date_sk
      |   and d2.d_year between 1998 AND 1998 + 2
      | intersect
      | select iws.i_brand_id
      |     ,iws.i_class_id
      |     ,iws.i_category_id
      | from web_sales
      |     ,item iws
      |     ,date_dim d3
      | where ws_item_sk = iws.i_item_sk
      |   and ws_sold_date_sk = d3.d_date_sk
      |   and d3.d_year between 1998 AND 1998 + 2) x
      | where i_brand_id = brand_id
      |      and i_class_id = class_id
      |      and i_category_id = category_id
      |),
      | avg_sales as
      |(select avg(quantity*list_price) average_sales
      |  from (select ss_quantity quantity
      |             ,ss_list_price list_price
      |       from store_sales
      |           ,date_dim
      |       where ss_sold_date_sk = d_date_sk
      |         and d_year between 1998 and 1998 + 2
      |       union all
      |       select cs_quantity quantity
      |             ,cs_list_price list_price
      |       from catalog_sales
      |           ,date_dim
      |       where cs_sold_date_sk = d_date_sk
      |         and d_year between 1998 and 1998 + 2
      |       union all
      |       select ws_quantity quantity
      |             ,ws_list_price list_price
      |       from web_sales
      |           ,date_dim
      |       where ws_sold_date_sk = d_date_sk
      |         and d_year between 1998 and 1998 + 2) x)
      |  select  * from
      | (select 'store' channel, i_brand_id,i_class_id,i_category_id
      |        ,sum(ss_quantity*ss_list_price) sales, count(*) number_sales
      | from store_sales 
      |     ,item
      |     ,date_dim
      | where ss_item_sk in (select ss_item_sk from cross_items)
      |   and ss_item_sk = i_item_sk
      |   and ss_sold_date_sk = d_date_sk
      |   and d_week_seq = (select d_week_seq
      |                     from date_dim
      |                     where d_year = 1998 + 1
      |                       and d_moy = 12
      |                       and d_dom = 1)
      | group by i_brand_id,i_class_id,i_category_id
      | having sum(ss_quantity*ss_list_price) > (select average_sales from avg_sales)) this_year,
      | (select 'store' channel, i_brand_id,i_class_id
      |        ,i_category_id, sum(ss_quantity*ss_list_price) sales, count(*) number_sales
      | from store_sales
      |     ,item
      |     ,date_dim
      | where ss_item_sk in (select ss_item_sk from cross_items)
      |   and ss_item_sk = i_item_sk
      |   and ss_sold_date_sk = d_date_sk
      |   and d_week_seq = (select d_week_seq
      |                     from date_dim
      |                     where d_year = 1998
      |                       and d_moy = 12
      |                       and d_dom = 1)
      | group by i_brand_id,i_class_id,i_category_id
      | having sum(ss_quantity*ss_list_price) > (select average_sales from avg_sales)) last_year
      | where this_year.i_brand_id= last_year.i_brand_id
      |   and this_year.i_class_id = last_year.i_class_id
      |   and this_year.i_category_id = last_year.i_category_id
      | order by this_year.channel, this_year.i_brand_id, this_year.i_class_id, this_year.i_category_id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q18.sql
  private val Q18: String =
    """select  i_item_id,
      |        ca_country,
      |        ca_state, 
      |        ca_county,
      |        avg( cast(cs_quantity as decimal(12,2))) agg1,
      |        avg( cast(cs_list_price as decimal(12,2))) agg2,
      |        avg( cast(cs_coupon_amt as decimal(12,2))) agg3,
      |        avg( cast(cs_sales_price as decimal(12,2))) agg4,
      |        avg( cast(cs_net_profit as decimal(12,2))) agg5,
      |        avg( cast(c_birth_year as decimal(12,2))) agg6,
      |        avg( cast(cd1.cd_dep_count as decimal(12,2))) agg7
      | from catalog_sales, customer_demographics cd1, 
      |      customer_demographics cd2, customer, customer_address, date_dim, item
      | where cs_sold_date_sk = d_date_sk and
      |       cs_item_sk = i_item_sk and
      |       cs_bill_cdemo_sk = cd1.cd_demo_sk and
      |       cs_bill_customer_sk = c_customer_sk and
      |       cd1.cd_gender = 'M' and 
      |       cd1.cd_education_status = 'Primary' and
      |       c_current_cdemo_sk = cd2.cd_demo_sk and
      |       c_current_addr_sk = ca_address_sk and
      |       c_birth_month in (1,2,3,4,5,6) and
      |       d_year = 1998 and
      |       ca_state in ('ID','TN','SD'
      |                   ,'AL','SC','OH','LA')
      | group by rollup (i_item_id, ca_country, ca_state, ca_county)
      | order by ca_country,
      |        ca_state, 
      |        ca_county,
      |	i_item_id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q57.sql
  private val Q57: String =
    """with v1 as(
      | select i_category, i_brand,
      |        cc_name,
      |        d_year, d_moy,
      |        sum(cs_sales_price) sum_sales,
      |        avg(sum(cs_sales_price)) over
      |          (partition by i_category, i_brand,
      |                     cc_name, d_year)
      |          avg_monthly_sales,
      |        rank() over
      |          (partition by i_category, i_brand,
      |                     cc_name
      |           order by d_year, d_moy) rn
      | from item, catalog_sales, date_dim, call_center
      | where cs_item_sk = i_item_sk and
      |       cs_sold_date_sk = d_date_sk and
      |       cc_call_center_sk= cs_call_center_sk and
      |       (
      |         d_year = 1999 or
      |         ( d_year = 1999-1 and d_moy =12) or
      |         ( d_year = 1999+1 and d_moy =1)
      |       )
      | group by i_category, i_brand,
      |          cc_name , d_year, d_moy),
      | v2 as(
      | select v1.i_category
      |        ,v1.d_year
      |        ,v1.avg_monthly_sales
      |        ,v1.sum_sales, v1_lag.sum_sales psum, v1_lead.sum_sales nsum
      | from v1, v1 v1_lag, v1 v1_lead
      | where v1.i_category = v1_lag.i_category and
      |       v1.i_category = v1_lead.i_category and
      |       v1.i_brand = v1_lag.i_brand and
      |       v1.i_brand = v1_lead.i_brand and
      |       v1. cc_name = v1_lag. cc_name and
      |       v1. cc_name = v1_lead. cc_name and
      |       v1.rn = v1_lag.rn + 1 and
      |       v1.rn = v1_lead.rn - 1)
      |  select  *
      | from v2
      | where  d_year = 1999 and
      |        avg_monthly_sales > 0 and
      |        case when avg_monthly_sales > 0 then abs(sum_sales - avg_monthly_sales) / avg_monthly_sales else null end > 0.1
      | order by sum_sales - avg_monthly_sales, 3
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q75.sql
  private val Q75: String =
    """WITH all_sales AS (
      | SELECT d_year
      |       ,i_brand_id
      |       ,i_class_id
      |       ,i_category_id
      |       ,i_manufact_id
      |       ,SUM(sales_cnt) AS sales_cnt
      |       ,SUM(sales_amt) AS sales_amt
      | FROM (SELECT d_year
      |             ,i_brand_id
      |             ,i_class_id
      |             ,i_category_id
      |             ,i_manufact_id
      |             ,cs_quantity - COALESCE(cr_return_quantity,0) AS sales_cnt
      |             ,cs_ext_sales_price - COALESCE(cr_return_amount,0.0) AS sales_amt
      |       FROM catalog_sales JOIN item ON i_item_sk=cs_item_sk
      |                          JOIN date_dim ON d_date_sk=cs_sold_date_sk
      |                          LEFT JOIN catalog_returns ON (cs_order_number=cr_order_number 
      |                                                    AND cs_item_sk=cr_item_sk)
      |       WHERE i_category='Women'
      |       UNION
      |       SELECT d_year
      |             ,i_brand_id
      |             ,i_class_id
      |             ,i_category_id
      |             ,i_manufact_id
      |             ,ss_quantity - COALESCE(sr_return_quantity,0) AS sales_cnt
      |             ,ss_ext_sales_price - COALESCE(sr_return_amt,0.0) AS sales_amt
      |       FROM store_sales JOIN item ON i_item_sk=ss_item_sk
      |                        JOIN date_dim ON d_date_sk=ss_sold_date_sk
      |                        LEFT JOIN store_returns ON (ss_ticket_number=sr_ticket_number 
      |                                                AND ss_item_sk=sr_item_sk)
      |       WHERE i_category='Women'
      |       UNION
      |       SELECT d_year
      |             ,i_brand_id
      |             ,i_class_id
      |             ,i_category_id
      |             ,i_manufact_id
      |             ,ws_quantity - COALESCE(wr_return_quantity,0) AS sales_cnt
      |             ,ws_ext_sales_price - COALESCE(wr_return_amt,0.0) AS sales_amt
      |       FROM web_sales JOIN item ON i_item_sk=ws_item_sk
      |                      JOIN date_dim ON d_date_sk=ws_sold_date_sk
      |                      LEFT JOIN web_returns ON (ws_order_number=wr_order_number 
      |                                            AND ws_item_sk=wr_item_sk)
      |       WHERE i_category='Women') sales_detail
      | GROUP BY d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id)
      | SELECT  prev_yr.d_year AS prev_year
      |                          ,curr_yr.d_year AS `year`
      |                          ,curr_yr.i_brand_id
      |                          ,curr_yr.i_class_id
      |                          ,curr_yr.i_category_id
      |                          ,curr_yr.i_manufact_id
      |                          ,prev_yr.sales_cnt AS prev_yr_cnt
      |                          ,curr_yr.sales_cnt AS curr_yr_cnt
      |                          ,curr_yr.sales_cnt-prev_yr.sales_cnt AS sales_cnt_diff
      |                          ,curr_yr.sales_amt-prev_yr.sales_amt AS sales_amt_diff
      | FROM all_sales curr_yr, all_sales prev_yr
      | WHERE curr_yr.i_brand_id=prev_yr.i_brand_id
      |   AND curr_yr.i_class_id=prev_yr.i_class_id
      |   AND curr_yr.i_category_id=prev_yr.i_category_id
      |   AND curr_yr.i_manufact_id=prev_yr.i_manufact_id
      |   AND curr_yr.d_year=1999
      |   AND prev_yr.d_year=1999-1
      |   AND CAST(curr_yr.sales_cnt AS DECIMAL(17,2))/CAST(prev_yr.sales_cnt AS DECIMAL(17,2))<0.9
      | ORDER BY sales_cnt_diff
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q78.sql
  private val Q78: String =
    """with ws as
      |  (select d_year AS ws_sold_year, ws_item_sk,
      |    ws_bill_customer_sk ws_customer_sk,
      |    sum(ws_quantity) ws_qty,
      |    sum(ws_wholesale_cost) ws_wc,
      |    sum(ws_sales_price) ws_sp
      |   from web_sales
      |   left join web_returns on wr_order_number=ws_order_number and ws_item_sk=wr_item_sk
      |   join date_dim on ws_sold_date_sk = d_date_sk
      |   where wr_order_number is null
      |   group by d_year, ws_item_sk, ws_bill_customer_sk
      |   ),
      |cs as
      |  (select d_year AS cs_sold_year, cs_item_sk,
      |    cs_bill_customer_sk cs_customer_sk,
      |    sum(cs_quantity) cs_qty,
      |    sum(cs_wholesale_cost) cs_wc,
      |    sum(cs_sales_price) cs_sp
      |   from catalog_sales
      |   left join catalog_returns on cr_order_number=cs_order_number and cs_item_sk=cr_item_sk
      |   join date_dim on cs_sold_date_sk = d_date_sk
      |   where cr_order_number is null
      |   group by d_year, cs_item_sk, cs_bill_customer_sk
      |   ),
      |ss as
      |  (select d_year AS ss_sold_year, ss_item_sk,
      |    ss_customer_sk,
      |    sum(ss_quantity) ss_qty,
      |    sum(ss_wholesale_cost) ss_wc,
      |    sum(ss_sales_price) ss_sp
      |   from store_sales
      |   left join store_returns on sr_ticket_number=ss_ticket_number and ss_item_sk=sr_item_sk
      |   join date_dim on ss_sold_date_sk = d_date_sk
      |   where sr_ticket_number is null
      |   group by d_year, ss_item_sk, ss_customer_sk
      |   )
      | select 
      |ss_sold_year,
      |round(ss_qty/(coalesce(ws_qty,0)+coalesce(cs_qty,0)),2) ratio,
      |ss_qty store_qty, ss_wc store_wholesale_cost, ss_sp store_sales_price,
      |coalesce(ws_qty,0)+coalesce(cs_qty,0) other_chan_qty,
      |coalesce(ws_wc,0)+coalesce(cs_wc,0) other_chan_wholesale_cost,
      |coalesce(ws_sp,0)+coalesce(cs_sp,0) other_chan_sales_price
      |from ss
      |left join ws on (ws_sold_year=ss_sold_year and ws_item_sk=ss_item_sk and ws_customer_sk=ss_customer_sk)
      |left join cs on (cs_sold_year=ss_sold_year and cs_item_sk=ss_item_sk and cs_customer_sk=ss_customer_sk)
      |where (coalesce(ws_qty,0)>0 or coalesce(cs_qty, 0)>0) and ss_sold_year=1998
      |order by 
      |  ss_sold_year,
      |  ss_qty desc, ss_wc desc, ss_sp desc,
      |  other_chan_qty,
      |  other_chan_wholesale_cost,
      |  other_chan_sales_price,
      |  round(ss_qty/(coalesce(ws_qty+cs_qty,1)),2)
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q5.sql
  private val Q5: String =
    """with ssr as
      | (select s_store_id,
      |        sum(sales_price) as sales,
      |        sum(profit) as profit,
      |        sum(return_amt) as `returns`,
      |        sum(net_loss) as profit_loss
      | from
      |  ( select  ss_store_sk as store_sk,
      |            ss_sold_date_sk  as date_sk,
      |            ss_ext_sales_price as sales_price,
      |            ss_net_profit as profit,
      |            cast(0 as decimal(7,2)) as return_amt,
      |            cast(0 as decimal(7,2)) as net_loss
      |    from store_sales
      |    union all
      |    select sr_store_sk as store_sk,
      |           sr_returned_date_sk as date_sk,
      |           cast(0 as decimal(7,2)) as sales_price,
      |           cast(0 as decimal(7,2)) as profit,
      |           sr_return_amt as return_amt,
      |           sr_net_loss as net_loss
      |    from store_returns
      |   ) salesreturns,
      |     date_dim,
      |     store
      | where date_sk = d_date_sk
      |       and d_date between cast('1998-08-02' as date)
      |                  and (cast('1998-08-02' as date) +  INTERVAL '14' day)
      |       and store_sk = s_store_sk
      | group by s_store_id)
      | ,
      | csr as
      | (select cp_catalog_page_id,
      |        sum(sales_price) as sales,
      |        sum(profit) as profit,
      |        sum(return_amt) as `returns`,
      |        sum(net_loss) as profit_loss
      | from
      |  ( select  cs_catalog_page_sk as page_sk,
      |            cs_sold_date_sk  as date_sk,
      |            cs_ext_sales_price as sales_price,
      |            cs_net_profit as profit,
      |            cast(0 as decimal(7,2)) as return_amt,
      |            cast(0 as decimal(7,2)) as net_loss
      |    from catalog_sales
      |    union all
      |    select cr_catalog_page_sk as page_sk,
      |           cr_returned_date_sk as date_sk,
      |           cast(0 as decimal(7,2)) as sales_price,
      |           cast(0 as decimal(7,2)) as profit,
      |           cr_return_amount as return_amt,
      |           cr_net_loss as net_loss
      |    from catalog_returns
      |   ) salesreturns,
      |     date_dim,
      |     catalog_page
      | where date_sk = d_date_sk
      |       and d_date between cast('1998-08-02' as date)
      |                  and (cast('1998-08-02' as date) +  INTERVAL '14' day)
      |       and page_sk = cp_catalog_page_sk
      | group by cp_catalog_page_id)
      | ,
      | wsr as
      | (select web_site_id,
      |        sum(sales_price) as sales,
      |        sum(profit) as profit,
      |        sum(return_amt) as `returns`,
      |        sum(net_loss) as profit_loss
      | from
      |  ( select  ws_web_site_sk as wsr_web_site_sk,
      |            ws_sold_date_sk  as date_sk,
      |            ws_ext_sales_price as sales_price,
      |            ws_net_profit as profit,
      |            cast(0 as decimal(7,2)) as return_amt,
      |            cast(0 as decimal(7,2)) as net_loss
      |    from web_sales
      |    union all
      |    select ws_web_site_sk as wsr_web_site_sk,
      |           wr_returned_date_sk as date_sk,
      |           cast(0 as decimal(7,2)) as sales_price,
      |           cast(0 as decimal(7,2)) as profit,
      |           wr_return_amt as return_amt,
      |           wr_net_loss as net_loss
      |    from web_returns left outer join web_sales on
      |         ( wr_item_sk = ws_item_sk
      |           and wr_order_number = ws_order_number)
      |   ) salesreturns,
      |     date_dim,
      |     web_site
      | where date_sk = d_date_sk
      |       and d_date between cast('1998-08-02' as date)
      |                  and (cast('1998-08-02' as date) +  INTERVAL '14' day)
      |       and wsr_web_site_sk = web_site_sk
      | group by web_site_id)
      |  select  channel
      |        , id
      |        , sum(sales) as sales
      |        , sum(`returns`) as `returns`
      |        , sum(profit) as profit
      | from 
      | (select 'store channel' as channel
      |        , 'store' || s_store_id as id
      |        , sales
      |        , `returns`
      |        , (profit - profit_loss) as profit
      | from   ssr
      | union all
      | select 'catalog channel' as channel
      |        , 'catalog_page' || cp_catalog_page_id as id
      |        , sales
      |        , `returns`
      |        , (profit - profit_loss) as profit
      | from  csr
      | union all
      | select 'web channel' as channel
      |        , 'web_site' || web_site_id as id
      |        , sales
      |        , `returns`
      |        , (profit - profit_loss) as profit
      | from   wsr
      | ) x
      | group by rollup (channel, id)
      | order by channel
      |         ,id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q49.sql
  private val Q49: String =
    """select  
      | 'web' as channel
      | ,web.item
      | ,web.return_ratio
      | ,web.return_rank
      | ,web.currency_rank
      | from (
      | 	select 
      | 	 item
      | 	,return_ratio
      | 	,currency_ratio
      | 	,rank() over (order by return_ratio) as return_rank
      | 	,rank() over (order by currency_ratio) as currency_rank
      | 	from
      | 	(	select ws.ws_item_sk as item
      | 		,(cast(sum(coalesce(wr.wr_return_quantity,0)) as decimal(15,4))/
      | 		cast(sum(coalesce(ws.ws_quantity,0)) as decimal(15,4) )) as return_ratio
      | 		,(cast(sum(coalesce(wr.wr_return_amt,0)) as decimal(15,4))/
      | 		cast(sum(coalesce(ws.ws_net_paid,0)) as decimal(15,4) )) as currency_ratio
      | 		from 
      | 		 web_sales ws left outer join web_returns wr 
      | 			on (ws.ws_order_number = wr.wr_order_number and 
      | 			ws.ws_item_sk = wr.wr_item_sk)
      |                 ,date_dim
      | 		where 
      | 			wr.wr_return_amt > 10000 
      | 			and ws.ws_net_profit > 1
      |                         and ws.ws_net_paid > 0
      |                         and ws.ws_quantity > 0
      |                         and ws_sold_date_sk = d_date_sk
      |                         and d_year = 1998
      |                         and d_moy = 11
      | 		group by ws.ws_item_sk
      | 	) in_web
      | ) web
      | where 
      | (
      | web.return_rank <= 10
      | or
      | web.currency_rank <= 10
      | )
      | union
      | select 
      | 'catalog' as channel
      | ,catalog.item
      | ,catalog.return_ratio
      | ,catalog.return_rank
      | ,catalog.currency_rank
      | from (
      | 	select 
      | 	 item
      | 	,return_ratio
      | 	,currency_ratio
      | 	,rank() over (order by return_ratio) as return_rank
      | 	,rank() over (order by currency_ratio) as currency_rank
      | 	from
      | 	(	select 
      | 		cs.cs_item_sk as item
      | 		,(cast(sum(coalesce(cr.cr_return_quantity,0)) as decimal(15,4))/
      | 		cast(sum(coalesce(cs.cs_quantity,0)) as decimal(15,4) )) as return_ratio
      | 		,(cast(sum(coalesce(cr.cr_return_amount,0)) as decimal(15,4))/
      | 		cast(sum(coalesce(cs.cs_net_paid,0)) as decimal(15,4) )) as currency_ratio
      | 		from 
      | 		catalog_sales cs left outer join catalog_returns cr
      | 			on (cs.cs_order_number = cr.cr_order_number and 
      | 			cs.cs_item_sk = cr.cr_item_sk)
      |                ,date_dim
      | 		where 
      | 			cr.cr_return_amount > 10000 
      | 			and cs.cs_net_profit > 1
      |                         and cs.cs_net_paid > 0
      |                         and cs.cs_quantity > 0
      |                         and cs_sold_date_sk = d_date_sk
      |                         and d_year = 1998
      |                         and d_moy = 11
      |                 group by cs.cs_item_sk
      | 	) in_cat
      | ) catalog
      | where 
      | (
      | catalog.return_rank <= 10
      | or
      | catalog.currency_rank <=10
      | )
      | union
      | select 
      | 'store' as channel
      | ,store.item
      | ,store.return_ratio
      | ,store.return_rank
      | ,store.currency_rank
      | from (
      | 	select 
      | 	 item
      | 	,return_ratio
      | 	,currency_ratio
      | 	,rank() over (order by return_ratio) as return_rank
      | 	,rank() over (order by currency_ratio) as currency_rank
      | 	from
      | 	(	select sts.ss_item_sk as item
      | 		,(cast(sum(coalesce(sr.sr_return_quantity,0)) as decimal(15,4))/cast(sum(coalesce(sts.ss_quantity,0)) as decimal(15,4) )) as return_ratio
      | 		,(cast(sum(coalesce(sr.sr_return_amt,0)) as decimal(15,4))/cast(sum(coalesce(sts.ss_net_paid,0)) as decimal(15,4) )) as currency_ratio
      | 		from 
      | 		store_sales sts left outer join store_returns sr
      | 			on (sts.ss_ticket_number = sr.sr_ticket_number and sts.ss_item_sk = sr.sr_item_sk)
      |                ,date_dim
      | 		where 
      | 			sr.sr_return_amt > 10000 
      | 			and sts.ss_net_profit > 1
      |                         and sts.ss_net_paid > 0 
      |                         and sts.ss_quantity > 0
      |                         and ss_sold_date_sk = d_date_sk
      |                         and d_year = 1998
      |                         and d_moy = 11
      | 		group by sts.ss_item_sk
      | 	) in_store
      | ) store
      | where  (
      | store.return_rank <= 10
      | or 
      | store.currency_rank <= 10
      | )
      | order by 1,4,5
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q61.sql
  private val Q61: String =
    """select  promotions,total,cast(promotions as decimal(15,4))/cast(total as decimal(15,4))*100
      |from
      |  (select sum(ss_ext_sales_price) promotions
      |   from  store_sales
      |        ,store
      |        ,promotion
      |        ,date_dim
      |        ,customer
      |        ,customer_address 
      |        ,item
      |   where ss_sold_date_sk = d_date_sk
      |   and   ss_store_sk = s_store_sk
      |   and   ss_promo_sk = p_promo_sk
      |   and   ss_customer_sk= c_customer_sk
      |   and   ca_address_sk = c_current_addr_sk
      |   and   ss_item_sk = i_item_sk 
      |   and   ca_gmt_offset = -6
      |   and   i_category = 'Books'
      |   and   (p_channel_dmail = 'Y' or p_channel_email = 'Y' or p_channel_tv = 'Y')
      |   and   s_gmt_offset = -6
      |   and   d_year = 1998
      |   and   d_moy  = 11) promotional_sales,
      |  (select sum(ss_ext_sales_price) total
      |   from  store_sales
      |        ,store
      |        ,date_dim
      |        ,customer
      |        ,customer_address
      |        ,item
      |   where ss_sold_date_sk = d_date_sk
      |   and   ss_store_sk = s_store_sk
      |   and   ss_customer_sk= c_customer_sk
      |   and   ca_address_sk = c_current_addr_sk
      |   and   ss_item_sk = i_item_sk
      |   and   ca_gmt_offset = -6
      |   and   i_category = 'Books'
      |   and   s_gmt_offset = -6
      |   and   d_year = 1998
      |   and   d_moy  = 11) all_sales
      |order by promotions, total
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q71.sql
  private val Q71: String =
    """select i_brand_id brand_id, i_brand brand,t_hour,t_minute,
      | 	sum(ext_price) ext_price
      | from item, (select ws_ext_sales_price as ext_price, 
      |                        ws_sold_date_sk as sold_date_sk,
      |                        ws_item_sk as sold_item_sk,
      |                        ws_sold_time_sk as time_sk  
      |                 from web_sales,date_dim
      |                 where d_date_sk = ws_sold_date_sk
      |                   and d_moy=11
      |                   and d_year=1998
      |                 union all
      |                 select cs_ext_sales_price as ext_price,
      |                        cs_sold_date_sk as sold_date_sk,
      |                        cs_item_sk as sold_item_sk,
      |                        cs_sold_time_sk as time_sk
      |                 from catalog_sales,date_dim
      |                 where d_date_sk = cs_sold_date_sk
      |                   and d_moy=11
      |                   and d_year=1998
      |                 union all
      |                 select ss_ext_sales_price as ext_price,
      |                        ss_sold_date_sk as sold_date_sk,
      |                        ss_item_sk as sold_item_sk,
      |                        ss_sold_time_sk as time_sk
      |                 from store_sales,date_dim
      |                 where d_date_sk = ss_sold_date_sk
      |                   and d_moy=11
      |                   and d_year=1998
      |                 ) tmp,time_dim
      | where
      |   sold_item_sk = i_item_sk
      |   and i_manager_id=1
      |   and time_sk = t_time_sk
      |   and (t_meal_time = 'breakfast' or t_meal_time = 'dinner')
      | group by i_brand, i_brand_id,t_hour,t_minute
      | order by ext_price desc, i_brand_id""".stripMargin

  // reference: tpcds/queries/1/q77.sql
  private val Q77: String =
    """with ss as
      | (select s_store_sk,
      |         sum(ss_ext_sales_price) as sales,
      |         sum(ss_net_profit) as profit
      | from store_sales,
      |      date_dim,
      |      store
      | where ss_sold_date_sk = d_date_sk
      |       and d_date between cast('1998-08-02' as date) 
      |                  and (cast('1998-08-02' as date) +  INTERVAL '30' day)
      |       and ss_store_sk = s_store_sk
      | group by s_store_sk)
      | ,
      | sr as
      | (select s_store_sk,
      |         sum(sr_return_amt) as `returns`,
      |         sum(sr_net_loss) as profit_loss
      | from store_returns,
      |      date_dim,
      |      store
      | where sr_returned_date_sk = d_date_sk
      |       and d_date between cast('1998-08-02' as date)
      |                  and (cast('1998-08-02' as date) +  INTERVAL '30' day)
      |       and sr_store_sk = s_store_sk
      | group by s_store_sk), 
      | cs as
      | (select cs_call_center_sk,
      |        sum(cs_ext_sales_price) as sales,
      |        sum(cs_net_profit) as profit
      | from catalog_sales,
      |      date_dim
      | where cs_sold_date_sk = d_date_sk
      |       and d_date between cast('1998-08-02' as date)
      |                  and (cast('1998-08-02' as date) +  INTERVAL '30' day)
      | group by cs_call_center_sk 
      | ), 
      | cr as
      | (select cr_call_center_sk,
      |         sum(cr_return_amount) as `returns`,
      |         sum(cr_net_loss) as profit_loss
      | from catalog_returns,
      |      date_dim
      | where cr_returned_date_sk = d_date_sk
      |       and d_date between cast('1998-08-02' as date)
      |                  and (cast('1998-08-02' as date) +  INTERVAL '30' day)
      | group by cr_call_center_sk
      | ), 
      | ws as
      | ( select wp_web_page_sk,
      |        sum(ws_ext_sales_price) as sales,
      |        sum(ws_net_profit) as profit
      | from web_sales,
      |      date_dim,
      |      web_page
      | where ws_sold_date_sk = d_date_sk
      |       and d_date between cast('1998-08-02' as date)
      |                  and (cast('1998-08-02' as date) +  INTERVAL '30' day)
      |       and ws_web_page_sk = wp_web_page_sk
      | group by wp_web_page_sk), 
      | wr as
      | (select wp_web_page_sk,
      |        sum(wr_return_amt) as `returns`,
      |        sum(wr_net_loss) as profit_loss
      | from web_returns,
      |      date_dim,
      |      web_page
      | where wr_returned_date_sk = d_date_sk
      |       and d_date between cast('1998-08-02' as date)
      |                  and (cast('1998-08-02' as date) +  INTERVAL '30' day)
      |       and wr_web_page_sk = wp_web_page_sk
      | group by wp_web_page_sk)
      |  select  channel
      |        , id
      |        , sum(sales) as sales
      |        , sum(`returns`) as `returns`
      |        , sum(profit) as profit
      | from 
      | (select 'store channel' as channel
      |        , ss.s_store_sk as id
      |        , sales
      |        , coalesce(`returns`, 0) as `returns`
      |        , (profit - coalesce(profit_loss,0)) as profit
      | from   ss left join sr
      |        on  ss.s_store_sk = sr.s_store_sk
      | union all
      | select 'catalog channel' as channel
      |        , cs_call_center_sk as id
      |        , sales
      |        , `returns`
      |        , (profit - profit_loss) as profit
      | from  cs
      |       , cr
      | union all
      | select 'web channel' as channel
      |        , ws.wp_web_page_sk as id
      |        , sales
      |        , coalesce(`returns`, 0) `returns`
      |        , (profit - coalesce(profit_loss,0)) as profit
      | from   ws left join wr
      |        on  ws.wp_web_page_sk = wr.wp_web_page_sk
      | ) x
      | group by rollup (channel, id)
      | order by channel
      |         ,id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q80.sql
  private val Q80: String =
    """with ssr as
      | (select  s_store_id as store_id,
      |          sum(ss_ext_sales_price) as sales,
      |          sum(coalesce(sr_return_amt, 0)) as `returns`,
      |          sum(ss_net_profit - coalesce(sr_net_loss, 0)) as profit
      |  from store_sales left outer join store_returns on
      |         (ss_item_sk = sr_item_sk and ss_ticket_number = sr_ticket_number),
      |     date_dim,
      |     store,
      |     item,
      |     promotion
      | where ss_sold_date_sk = d_date_sk
      |       and d_date between cast('1998-08-02' as date) 
      |                  and (cast('1998-08-02' as date) +  INTERVAL '30' day)
      |       and ss_store_sk = s_store_sk
      |       and ss_item_sk = i_item_sk
      |       and i_current_price > 50
      |       and ss_promo_sk = p_promo_sk
      |       and p_channel_tv = 'N'
      | group by s_store_id)
      | ,
      | csr as
      | (select  cp_catalog_page_id as catalog_page_id,
      |          sum(cs_ext_sales_price) as sales,
      |          sum(coalesce(cr_return_amount, 0)) as `returns`,
      |          sum(cs_net_profit - coalesce(cr_net_loss, 0)) as profit
      |  from catalog_sales left outer join catalog_returns on
      |         (cs_item_sk = cr_item_sk and cs_order_number = cr_order_number),
      |     date_dim,
      |     catalog_page,
      |     item,
      |     promotion
      | where cs_sold_date_sk = d_date_sk
      |       and d_date between cast('1998-08-02' as date)
      |                  and (cast('1998-08-02' as date) +  INTERVAL '30' day)
      |        and cs_catalog_page_sk = cp_catalog_page_sk
      |       and cs_item_sk = i_item_sk
      |       and i_current_price > 50
      |       and cs_promo_sk = p_promo_sk
      |       and p_channel_tv = 'N'
      |group by cp_catalog_page_id)
      | ,
      | wsr as
      | (select  web_site_id,
      |          sum(ws_ext_sales_price) as sales,
      |          sum(coalesce(wr_return_amt, 0)) as `returns`,
      |          sum(ws_net_profit - coalesce(wr_net_loss, 0)) as profit
      |  from web_sales left outer join web_returns on
      |         (ws_item_sk = wr_item_sk and ws_order_number = wr_order_number),
      |     date_dim,
      |     web_site,
      |     item,
      |     promotion
      | where ws_sold_date_sk = d_date_sk
      |       and d_date between cast('1998-08-02' as date)
      |                  and (cast('1998-08-02' as date) +  INTERVAL '30' day)
      |        and ws_web_site_sk = web_site_sk
      |       and ws_item_sk = i_item_sk
      |       and i_current_price > 50
      |       and ws_promo_sk = p_promo_sk
      |       and p_channel_tv = 'N'
      |group by web_site_id)
      |  select  channel
      |        , id
      |        , sum(sales) as sales
      |        , sum(`returns`) as `returns`
      |        , sum(profit) as profit
      | from 
      | (select 'store channel' as channel
      |        , 'store' || store_id as id
      |        , sales
      |        , `returns`
      |        , profit
      | from   ssr
      | union all
      | select 'catalog channel' as channel
      |        , 'catalog_page' || catalog_page_id as id
      |        , sales
      |        , `returns`
      |        , profit
      | from  csr
      | union all
      | select 'web channel' as channel
      |        , 'web_site' || web_site_id as id
      |        , sales
      |        , `returns`
      |        , profit
      | from   wsr
      | ) x
      | group by rollup (channel, id)
      | order by channel
      |         ,id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q90.sql
  private val Q90: String =
    """select  cast(amc as decimal(15,4))/cast(pmc as decimal(15,4)) am_pm_ratio
      | from ( select count(*) amc
      |       from web_sales, household_demographics , time_dim, web_page
      |       where ws_sold_time_sk = time_dim.t_time_sk
      |         and ws_ship_hdemo_sk = household_demographics.hd_demo_sk
      |         and ws_web_page_sk = web_page.wp_web_page_sk
      |         and time_dim.t_hour between 6 and 6+1
      |         and household_demographics.hd_dep_count = 0
      |         and web_page.wp_char_count between 5000 and 5200) `at`,
      |      ( select count(*) pmc
      |       from web_sales, household_demographics , time_dim, web_page
      |       where ws_sold_time_sk = time_dim.t_time_sk
      |         and ws_ship_hdemo_sk = household_demographics.hd_demo_sk
      |         and ws_web_page_sk = web_page.wp_web_page_sk
      |         and time_dim.t_hour between 13 and 13+1
      |         and household_demographics.hd_dep_count = 0
      |         and web_page.wp_char_count between 5000 and 5200) pt
      | order by am_pm_ratio
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q21.sql
  private val Q21: String =
    """select  *
      | from(select w_warehouse_name
      |            ,i_item_id
      |            ,sum(case when (cast(d_date as date) < cast ('1998-02-01' as date))
      |	                then inv_quantity_on_hand 
      |                      else 0 end) as inv_before
      |            ,sum(case when (cast(d_date as date) >= cast ('1998-02-01' as date))
      |                      then inv_quantity_on_hand 
      |                      else 0 end) as inv_after
      |   from inventory
      |       ,warehouse
      |       ,item
      |       ,date_dim
      |   where i_current_price between 0.99 and 1.49
      |     and i_item_sk          = inv_item_sk
      |     and inv_warehouse_sk   = w_warehouse_sk
      |     and inv_date_sk    = d_date_sk
      |     and d_date between (cast ('1998-02-01' as date) - INTERVAL '30' day)
      |                    and (cast ('1998-02-01' as date) + INTERVAL '30' day)
      |   group by w_warehouse_name, i_item_id) x
      | where (case when inv_before > 0 
      |             then inv_after / inv_before 
      |             else null
      |             end) between 2.0/3.0 and 3.0/2.0
      | order by w_warehouse_name
      |         ,i_item_id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q22.sql
  private val Q22: String =
    """select  i_product_name
      |             ,i_brand
      |             ,i_class
      |             ,i_category
      |             ,avg(inv_quantity_on_hand) qoh
      |       from inventory
      |           ,date_dim
      |           ,item
      |       where inv_date_sk=d_date_sk
      |              and inv_item_sk=i_item_sk
      |              and d_month_seq between 1176 and 1176 + 11
      |       group by rollup(i_product_name
      |                       ,i_brand
      |                       ,i_class
      |                       ,i_category)
      |order by qoh, i_product_name, i_brand, i_class, i_category
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q37.sql
  private val Q37: String =
    """select  i_item_id
      |       ,i_item_desc
      |       ,i_current_price
      | from item, inventory, date_dim, catalog_sales
      | where i_current_price between 10 and 10 + 30
      | and inv_item_sk = i_item_sk
      | and d_date_sk=inv_date_sk
      | and d_date between cast('1998-01-02' as date) and (cast('1998-01-02' as date) +  INTERVAL '60' day)
      | and i_manufact_id in (667,668,669,670)
      | and inv_quantity_on_hand between 100 and 500
      | and cs_item_sk = i_item_sk
      | group by i_item_id,i_item_desc,i_current_price
      | order by i_item_id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q40.sql
  private val Q40: String =
    """select  
      |   w_state
      |  ,i_item_id
      |  ,sum(case when (cast(d_date as date) < cast ('1998-02-01' as date)) 
      | 		then cs_sales_price - coalesce(cr_refunded_cash,0) else 0 end) as sales_before
      |  ,sum(case when (cast(d_date as date) >= cast ('1998-02-01' as date)) 
      | 		then cs_sales_price - coalesce(cr_refunded_cash,0) else 0 end) as sales_after
      | from
      |   catalog_sales left outer join catalog_returns on
      |       (cs_order_number = cr_order_number 
      |        and cs_item_sk = cr_item_sk)
      |  ,warehouse 
      |  ,item
      |  ,date_dim
      | where
      |     i_current_price between 0.99 and 1.49
      | and i_item_sk          = cs_item_sk
      | and cs_warehouse_sk    = w_warehouse_sk 
      | and cs_sold_date_sk    = d_date_sk
      | and d_date between (cast ('1998-02-01' as date) - INTERVAL '30' day)
      |                and (cast ('1998-02-01' as date) + INTERVAL '30' day)
      | group by
      |    w_state,i_item_id
      | order by w_state,i_item_id
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q72.sql
  private val Q72: String =
    """select  i_item_desc
      |      ,w_warehouse_name
      |      ,d1.d_week_seq
      |      ,sum(case when p_promo_sk is null then 1 else 0 end) no_promo
      |      ,sum(case when p_promo_sk is not null then 1 else 0 end) promo
      |      ,count(*) total_cnt
      |from catalog_sales
      |join inventory on (cs_item_sk = inv_item_sk)
      |join warehouse on (w_warehouse_sk=inv_warehouse_sk)
      |join item on (i_item_sk = cs_item_sk)
      |join customer_demographics on (cs_bill_cdemo_sk = cd_demo_sk)
      |join household_demographics on (cs_bill_hdemo_sk = hd_demo_sk)
      |join date_dim d1 on (cs_sold_date_sk = d1.d_date_sk)
      |join date_dim d2 on (inv_date_sk = d2.d_date_sk)
      |join date_dim d3 on (cs_ship_date_sk = d3.d_date_sk)
      |left outer join promotion on (cs_promo_sk=p_promo_sk)
      |left outer join catalog_returns on (cr_item_sk = cs_item_sk and cr_order_number = cs_order_number)
      |where d1.d_week_seq = d2.d_week_seq
      |  and inv_quantity_on_hand < cs_quantity 
      |  and d3.d_date > d1.d_date + interval '5' day
      |  and hd_buy_potential = '1001-5000'
      |  and d1.d_year = 1998
      |  and cd_marital_status = 'M'
      |group by i_item_desc,w_warehouse_name,d1.d_week_seq
      |order by total_cnt desc, i_item_desc, w_warehouse_name, d_week_seq
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q82.sql
  private val Q82: String =
    """select  i_item_id
      |       ,i_item_desc
      |       ,i_current_price
      | from item, inventory, date_dim, store_sales
      | where i_current_price between 0 and 0+30
      | and inv_item_sk = i_item_sk
      | and d_date_sk=inv_date_sk
      | and d_date between cast('1998-01-02' as date) and (cast('1998-01-02' as date) +  INTERVAL '60' day)
      | and i_manufact_id in (1,2,3,4)
      | and inv_quantity_on_hand between 100 and 500
      | and ss_item_sk = i_item_sk
      | group by i_item_id,i_item_desc,i_current_price
      | order by i_item_id
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q23b.sql
  private val Q23B: String =
    """with frequent_ss_items as
      | (select substr(i_item_desc,1,30) itemdesc,i_item_sk item_sk,d_date solddate,count(*) cnt
      |  from store_sales
      |      ,date_dim
      |      ,item
      |  where ss_sold_date_sk = d_date_sk
      |    and ss_item_sk = i_item_sk
      |    and d_year in (1998,1998 + 1,1998 + 2,1998 + 3)
      |  group by substr(i_item_desc,1,30),i_item_sk,d_date
      |  having count(*) >4),
      | max_store_sales as
      | (select max(csales) tpcds_cmax
      |  from (select c_customer_sk,sum(ss_quantity*ss_sales_price) csales
      |        from store_sales
      |            ,customer
      |            ,date_dim 
      |        where ss_customer_sk = c_customer_sk
      |         and ss_sold_date_sk = d_date_sk
      |         and d_year in (1998,1998+1,1998+2,1998+3)
      |        group by c_customer_sk)),
      | best_ss_customer as
      | (select c_customer_sk,sum(ss_quantity*ss_sales_price) ssales
      |  from store_sales
      |      ,customer
      |  where ss_customer_sk = c_customer_sk
      |  group by c_customer_sk
      |  having sum(ss_quantity*ss_sales_price) > (95/100.0) * (select
      |  *
      | from max_store_sales))
      |  select  c_last_name,c_first_name,sales
      | from (select c_last_name,c_first_name,sum(cs_quantity*cs_list_price) sales
      |        from catalog_sales
      |            ,customer
      |            ,date_dim 
      |        where d_year = 1998 
      |         and d_moy = 1 
      |         and cs_sold_date_sk = d_date_sk 
      |         and cs_item_sk in (select item_sk from frequent_ss_items)
      |         and cs_bill_customer_sk in (select c_customer_sk from best_ss_customer)
      |         and cs_bill_customer_sk = c_customer_sk 
      |       group by c_last_name,c_first_name
      |      union all
      |      select c_last_name,c_first_name,sum(ws_quantity*ws_list_price) sales
      |       from web_sales
      |           ,customer
      |           ,date_dim 
      |       where d_year = 1998 
      |         and d_moy = 1 
      |         and ws_sold_date_sk = d_date_sk 
      |         and ws_item_sk in (select item_sk from frequent_ss_items)
      |         and ws_bill_customer_sk in (select c_customer_sk from best_ss_customer)
      |         and ws_bill_customer_sk = c_customer_sk
      |       group by c_last_name,c_first_name) 
      |     order by c_last_name,c_first_name,sales
      |  limit 100""".stripMargin

  // reference: tpcds/queries/1/q34.sql
  private val Q34: String =
    """select c_last_name
      |       ,c_first_name
      |       ,c_salutation
      |       ,c_preferred_cust_flag
      |       ,ss_ticket_number
      |       ,cnt from
      |   (select ss_ticket_number
      |          ,ss_customer_sk
      |          ,count(*) cnt
      |    from store_sales,date_dim,store,household_demographics
      |    where store_sales.ss_sold_date_sk = date_dim.d_date_sk
      |    and store_sales.ss_store_sk = store.s_store_sk  
      |    and store_sales.ss_hdemo_sk = household_demographics.hd_demo_sk
      |    and (date_dim.d_dom between 1 and 3 or date_dim.d_dom between 25 and 28)
      |    and (household_demographics.hd_buy_potential = '1001-5000' or
      |         household_demographics.hd_buy_potential = '0-500')
      |    and household_demographics.hd_vehicle_count > 0
      |    and (case when household_demographics.hd_vehicle_count > 0 
      |	then household_demographics.hd_dep_count/ household_demographics.hd_vehicle_count 
      |	else null 
      |	end)  > 1.2
      |    and date_dim.d_year in (1998,1998+1,1998+2)
      |    and store.s_county in ('Williamson County','Williamson County','Williamson County','Williamson County',
      |                           'Williamson County','Williamson County','Williamson County','Williamson County')
      |    group by ss_ticket_number,ss_customer_sk) dn,customer
      |    where ss_customer_sk = c_customer_sk
      |      and cnt between 15 and 20
      |    order by c_last_name,c_first_name,c_salutation,c_preferred_cust_flag desc, ss_ticket_number""".stripMargin

  // reference: tpcds/queries/1/q54.sql
  private val Q54: String =
    """with my_customers as (
      | select distinct c_customer_sk
      |        , c_current_addr_sk
      | from   
      |        ( select cs_sold_date_sk sold_date_sk,
      |                 cs_bill_customer_sk customer_sk,
      |                 cs_item_sk item_sk
      |          from   catalog_sales
      |          union all
      |          select ws_sold_date_sk sold_date_sk,
      |                 ws_bill_customer_sk customer_sk,
      |                 ws_item_sk item_sk
      |          from   web_sales
      |         ) cs_or_ws_sales,
      |         item,
      |         date_dim,
      |         customer
      | where   sold_date_sk = d_date_sk
      |         and item_sk = i_item_sk
      |         and i_category = 'Women'
      |         and i_class = 'dresses'
      |         and c_customer_sk = cs_or_ws_sales.customer_sk
      |         and d_moy = 1
      |         and d_year = 1998
      | )
      | , my_revenue as (
      | select c_customer_sk,
      |        sum(ss_ext_sales_price) as revenue
      | from   my_customers,
      |        store_sales,
      |        customer_address,
      |        store,
      |        date_dim
      | where  c_current_addr_sk = ca_address_sk
      |        and ca_county = s_county
      |        and ca_state = s_state
      |        and ss_sold_date_sk = d_date_sk
      |        and c_customer_sk = ss_customer_sk
      |        and d_month_seq between (select distinct d_month_seq+1
      |                                 from   date_dim where d_year = 1998 and d_moy = 1)
      |                           and  (select distinct d_month_seq+3
      |                                 from   date_dim where d_year = 1998 and d_moy = 1)
      | group by c_customer_sk
      | )
      | , segments as
      | (select cast((revenue/50) as int) as segment
      |  from   my_revenue
      | )
      |  select  segment, count(*) as num_customers, segment*50 as segment_base
      | from segments
      | group by segment
      | order by segment, num_customers
      | limit 100""".stripMargin

  // reference: tpcds/queries/1/q85.sql
  private val Q85: String =
    """select  substr(r_reason_desc,1,20)
      |       ,avg(ws_quantity)
      |       ,avg(wr_refunded_cash)
      |       ,avg(wr_fee)
      | from web_sales, web_returns, web_page, customer_demographics cd1,
      |      customer_demographics cd2, customer_address, date_dim, reason 
      | where ws_web_page_sk = wp_web_page_sk
      |   and ws_item_sk = wr_item_sk
      |   and ws_order_number = wr_order_number
      |   and ws_sold_date_sk = d_date_sk and d_year = 1998
      |   and cd1.cd_demo_sk = wr_refunded_cdemo_sk 
      |   and cd2.cd_demo_sk = wr_returning_cdemo_sk
      |   and ca_address_sk = wr_refunded_addr_sk
      |   and r_reason_sk = wr_reason_sk
      |   and
      |   (
      |    (
      |     cd1.cd_marital_status = 'U'
      |     and
      |     cd1.cd_marital_status = cd2.cd_marital_status
      |     and
      |     cd1.cd_education_status = 'Unknown'
      |     and 
      |     cd1.cd_education_status = cd2.cd_education_status
      |     and
      |     ws_sales_price between 100.00 and 150.00
      |    )
      |   or
      |    (
      |     cd1.cd_marital_status = 'M'
      |     and
      |     cd1.cd_marital_status = cd2.cd_marital_status
      |     and
      |     cd1.cd_education_status = 'Primary' 
      |     and
      |     cd1.cd_education_status = cd2.cd_education_status
      |     and
      |     ws_sales_price between 50.00 and 100.00
      |    )
      |   or
      |    (
      |     cd1.cd_marital_status = 'S'
      |     and
      |     cd1.cd_marital_status = cd2.cd_marital_status
      |     and
      |     cd1.cd_education_status = 'Secondary'
      |     and
      |     cd1.cd_education_status = cd2.cd_education_status
      |     and
      |     ws_sales_price between 150.00 and 200.00
      |    )
      |   )
      |   and
      |   (
      |    (
      |     ca_country = 'United States'
      |     and
      |     ca_state in ('ID', 'TN', 'SD')
      |     and ws_net_profit between 100 and 200  
      |    )
      |    or
      |    (
      |     ca_country = 'United States'
      |     and
      |     ca_state in ('AL', 'SC', 'OH')
      |     and ws_net_profit between 150 and 300  
      |    )
      |    or
      |    (
      |     ca_country = 'United States'
      |     and
      |     ca_state in ('LA', 'MO', 'GA')
      |     and ws_net_profit between 50 and 250  
      |    )
      |   )
      |group by r_reason_desc
      |order by substr(r_reason_desc,1,20)
      |        ,avg(ws_quantity)
      |        ,avg(wr_refunded_cash)
      |        ,avg(wr_fee)
      |limit 100""".stripMargin

  // reference: tpcds/queries/1/q39a.sql
  private val Q39A: String =
    """with inv as
      |(select w_warehouse_name,w_warehouse_sk,i_item_sk,d_moy
      |       ,stdev,mean, case mean when 0 then null else stdev/mean end cov
      | from(select w_warehouse_name,w_warehouse_sk,i_item_sk,d_moy
      |            ,stddev_samp(inv_quantity_on_hand) stdev,avg(inv_quantity_on_hand) mean
      |      from inventory
      |          ,item
      |          ,warehouse
      |          ,date_dim
      |      where inv_item_sk = i_item_sk
      |        and inv_warehouse_sk = w_warehouse_sk
      |        and inv_date_sk = d_date_sk
      |        and d_year =1998
      |      group by w_warehouse_name,w_warehouse_sk,i_item_sk,d_moy) foo
      | where case mean when 0 then 0 else stdev/mean end > 1)
      |select inv1.w_warehouse_sk,inv1.i_item_sk,inv1.d_moy,inv1.mean, inv1.cov
      |        ,inv2.w_warehouse_sk,inv2.i_item_sk,inv2.d_moy,inv2.mean, inv2.cov
      |from inv inv1,inv inv2
      |where inv1.i_item_sk = inv2.i_item_sk
      |  and inv1.w_warehouse_sk =  inv2.w_warehouse_sk
      |  and inv1.d_moy=1
      |  and inv2.d_moy=1+1
      |order by inv1.w_warehouse_sk,inv1.i_item_sk,inv1.d_moy,inv1.mean,inv1.cov
      |        ,inv2.d_moy,inv2.mean, inv2.cov""".stripMargin

  // reference: tpcds/queries/1/q39b.sql
  private val Q39B: String =
    """with inv as
      |(select w_warehouse_name,w_warehouse_sk,i_item_sk,d_moy
      |       ,stdev,mean, case mean when 0 then null else stdev/mean end cov
      | from(select w_warehouse_name,w_warehouse_sk,i_item_sk,d_moy
      |            ,stddev_samp(inv_quantity_on_hand) stdev,avg(inv_quantity_on_hand) mean
      |      from inventory
      |          ,item
      |          ,warehouse
      |          ,date_dim
      |      where inv_item_sk = i_item_sk
      |        and inv_warehouse_sk = w_warehouse_sk
      |        and inv_date_sk = d_date_sk
      |        and d_year =1998
      |      group by w_warehouse_name,w_warehouse_sk,i_item_sk,d_moy) foo
      | where case mean when 0 then 0 else stdev/mean end > 1)
      |select inv1.w_warehouse_sk,inv1.i_item_sk,inv1.d_moy,inv1.mean, inv1.cov
      |        ,inv2.w_warehouse_sk,inv2.i_item_sk,inv2.d_moy,inv2.mean, inv2.cov
      |from inv inv1,inv inv2
      |where inv1.i_item_sk = inv2.i_item_sk
      |  and inv1.w_warehouse_sk =  inv2.w_warehouse_sk
      |  and inv1.d_moy=1
      |  and inv2.d_moy=1+1
      |  and inv1.cov > 1.5
      |order by inv1.w_warehouse_sk,inv1.i_item_sk,inv1.d_moy,inv1.mean,inv1.cov
      |        ,inv2.d_moy,inv2.mean, inv2.cov""".stripMargin
}
