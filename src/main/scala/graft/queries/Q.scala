package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query: a Spark build function over the sf
  * directory plus (when SQL-expressible) the exact DuckDB oracle the
  * driver replays for the hash-equality correctness gate.
  *
  * Contract notes (driver compare is column-name-sorted value hashing):
  *  - every query ends with a fully deterministic ORDER BY;
  *  - aggregate doubles are rounded (both sides operate on the same
  *    IEEE double, so the rounding is bit-identical) or summed via
  *    DECIMAL (order-independent, see Deterministic.stableSum);
  *  - column names are aliased identically on both sides.
  */
final case class Q(
    name: String,
    oracle: Option[String],
    headline: Boolean = false,
    // true when `build` RUNS Spark jobs as a side effect (e.g. the
    // train/serve split's one-off index write) instead of only
    // constructing a plan — the audit specs that build the whole
    // registry to inspect plans/memo registrations skip these, the
    // same way they skip stream_ queries whose build executes a replay
    buildExecutes: Boolean = false)(
    val build: (SparkSession, String) => DataFrame)

object Q {
  /** Full registry, assembled per SURVEY §2 section. */
  def registry: Seq[Q] =
    QCore.all ++ QAgg.all ++ QWindowSet.all ++ QStats.all ++
      QText.all ++ QSim.all ++ QKernels.all ++ QMedia.all ++ QStream.all ++
      QGaps.all ++ QGaps2.all ++ QCuration.all ++ QScale.all ++ QEvents.all

  /** Repo root for the committed fixture parquets and the records
    * `graft.Bench` and `tools.ScaleAccounting` write:
    * -Dgraft.repo.root, else GRAFT_REPO_ROOT, else the working
    * directory when it holds `build.sbt` (sbt runs mains and tests from
    * the checkout root); anywhere else it fails, naming the variable. */
  def repoRoot: String = repoRoot(sys.props.toMap, sys.env, sys.props("user.dir"))

  private[graft] def repoRoot(props: Map[String, String], env: Map[String, String],
      cwd: String): String =
    props.get("graft.repo.root").orElse(env.get("GRAFT_REPO_ROOT")).getOrElse {
      require(new java.io.File(cwd, "build.sbt").isFile,
        s"no repo root: $cwd holds no build.sbt; set GRAFT_REPO_ROOT to the checkout")
      cwd
    }

  /** Root of the generated sf* parquet directories — overridable the
    * same way as [[repoRoot]] for non-/root checkout layouts (used by
    * the plan-audit spec and the entry smoke query). */
  def testdataRoot: String =
    sys.props.get("graft.testdata.root")
      .orElse(sys.env.get("GRAFT_TESTDATA_ROOT"))
      .getOrElse("/root/testdata")

  /** Oracle for the dense linear-algebra kernel queries (l6_pca_cv,
    * l7_cca_cv, l8_glm_stats, l9_sensitivity_sweep, l10_principal_angles,
    * l11_participation, l12_variance_decomposition, l15_rastermap_order),
    * which are not SQL-expressible: replay a COMMITTED golden fixture
    * parquet (generated by tools/make_fixtures.py from a run whose SQL
    * oracles all passed — a regression pin, not an independent oracle;
    * independent numpy/scipy cross-check in tools/check_kernels.py).
    * Fixtures for every test scale live side by side, each stamped with
    * the customer row count of its scale; the oracle selects the stamp
    * matching the tables it runs against, so the same SQL is correct at
    * sf0.001/sf0.01/sf0.1. */
  def fixtureOracle(name: String, orderBy: String): String =
    s"SELECT * EXCLUDE (scale_n) FROM read_parquet('$repoRoot/fixtures/$name/*.parquet') " +
      s"WHERE scale_n = (SELECT count(*) FROM customer) ORDER BY $orderBy"
}
