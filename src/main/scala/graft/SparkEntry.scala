package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator registers one entry in `queries` (the Spark
  * implementation) and, when SQL-expressible, one in `oracleSql` (the
  * DuckDB-equivalent ANSI SQL the driver hash-compares against).
  */
object SparkEntry {

  private val groups: Seq[QueryGroup] = Seq(
    ReferenceQueries,
    RelationalQueries,
    ExtensionQueries,
    AdvancedQueries,
    SourceQueries,
    StatsQueries,
    PipelineQueries,
    CorpusQueries,
    CurationQueries,
    GraphQueries,
    ResolutionQueries,
    AuditQueries,
    SegmentQueries,
    SweepQueries,
    IntervalQueries,
    QuantQueries,
    TrainPrepQueries,
    FeatureQueries,
    MiningQueries,
    BehaviorQueries,
    DriftQueries,
    PlanningQueries,
    ModelQueries,
    OlapQueries,
    TpchQueries,
    EvalQueries,
    SignalQueries,
    LinkageQueries,
    CalibrationQueries,
    OptimQueries,
    SequenceQueries,
    RetrievalQueries,
    SynopsisQueries,
    EstimatorQueries,
    WinnowQueries,
    KeywordQueries,
    LayoutCurveQueries,
    AccuracyQueries,
    OlapPlanQueries,
    SchemaOpsQueries,
    SelectivityQueries,
    RewriteQueries,
    MonitorQueries,
    TpchFinalQueries,
    ApproxQueries,
    CertificateQueries,
    FreshnessQueries,
    LatenessQueries,
    ReplayQueries,
    ServingQueries,
    RichnessQueries,
    PretrainPlanQueries,
    SystemsPlanQueries,
    ScalingPlanQueries,
    PolicyPlanQueries,
    EnginePlanQueries,
    CapacityPlanQueries,
    OpsPlanQueries,
    CensusPlanQueries,
    ReliabilityPlanQueries,
    InferencePlanQueries,
    ProjectionPlanQueries,
    AccessPlanQueries,
    SelectionPlanQueries,
    EstimationPlanQueries,
    FidelityPlanQueries,
    ValuationPlanQueries,
    RobustnessPlanQueries,
    CausalPlanQueries,
    TopologyPlanQueries,
    ProtocolPlanQueries,
    DecisionPlanQueries,
    CentralityPlanQueries,
    BipartitePlanQueries,
    BatchPlanQueries,
    QueuePlanQueries,
    TrendPlanQueries,
    EconPlanQueries,
    DisclosurePlanQueries,
    ScanPlanQueries,
    AlignmentPlanQueries,
    SequentialTestPlanQueries,
    CohesionPlanQueries,
    InventoryPlanQueries,
    RobustLocationPlanQueries,
    ExperimentPlanQueries,
    AgreementPlanQueries,
    CachePlanQueries,
    FusionPlanQueries,
    NominalAssocPlanQueries,
    DedupPolicyPlanQueries,
    EncodingPlanQueries,
    MultimodalPlanQueries,
    SeriesDependencePlanQueries,
    RampPlanQueries,
    CorpusGrowthPlanQueries,
    RoughnessPlanQueries,
    StylePlanQueries,
    StreamCodecPlanQueries,
    ExtremesPlanQueries,
    HygieneBalancePlanQueries,
    ConductancePlanQueries,
    WarehousePlanQueries,
    RankTestPlanQueries,
    LexiconPlanQueries,
    GraphProbePlanQueries,
    StructurePlanQueries,
    SeriesCodecPlanQueries,
    DensityEvalPlanQueries,
    InspectionPlanQueries,
    SequenceCostPlanQueries,
    EngineSurfacePlanQueries,
    EngineSurfacePlanQueries2,
    EngineSurfacePlanQueries3,
    EngineSurfacePlanQueries4,
    EngineSurfacePlanQueries5,
    CuratorPlanQueries,
    SuffixDedupQueries,
    EngineSurfacePlanQueries6,
    MatcherPlanQueries,
    SpatialPlanQueries,
    TransportPlanQueries,
    EvalPlanQueries2)

  private lazy val all: Seq[QueryDef] = groups.flatMap(_.defs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's windowed aggregation (sliding 1 min / 30 s) over the
    * events table. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_windowed_agg_sliding")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> d.fn).toMap

  /** The queries an entry point runs: the whole catalog in name order when
    * `names` is empty, else the named ones in the order given. Unknown
    * names fail loudly, all listed — a typo must never run an empty set. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val qs = queries
    val wanted = names.distinct
    val unknown = wanted.filterNot(qs.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    if (wanted.isEmpty) qs.toSeq.sortBy(_._1) else wanted.map(n => n -> qs(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(d => d.oracle.map(o => d.name -> o.trim)).toMap
}
