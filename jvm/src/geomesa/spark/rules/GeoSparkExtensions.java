package geomesa.spark.rules;

import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.SparkSessionExtensions;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.rules.Rule;

/**
 * ``spark.sql.extensions`` entry point: Spark instantiates this class
 * (no-arg ctor) and invokes it as ``Function1[SparkSessionExtensions,
 * Unit]`` at session build; it injects {@link SpatialFilterRule} into the
 * operator-optimization batch.  Enable with::
 *
 *   --conf spark.sql.extensions=geomesa.spark.rules.GeoSparkExtensions
 *   --conf spark.driver.extraClassPath=<repo>/jvm/classes
 *
 * (driver classpath only -- optimizer rules never ship to executors).
 *
 * The rule recognises the engine's layouts by their hive partition
 * columns: point (`cell_bucket`) and Z3 (`time_bin/cell_bucket`) from
 * planner.write_partitioned, XZ2 (`xz_level/xz_bucket`) and XZ3
 * (`time_bin/xz_level/xz_bucket`) from xz2.write_partitioned_geoms, and
 * attribute (`attr_part[/date_bin]`) from planner.write_attr_partitioned.
 * Register a point or attribute layout as a plain `spark.read.parquet`
 * view; register an XZ layout through xz2.feature_view(spark, path,
 * id_col), the one-row-per-feature view beneath whose dedupe the spatial
 * prune is sound.
 */
public class GeoSparkExtensions
    extends scala.runtime.AbstractFunction1<SparkSessionExtensions, scala.runtime.BoxedUnit> {

  @Override
  public scala.runtime.BoxedUnit apply(SparkSessionExtensions ext) {
    ext.injectOptimizerRule(
        new scala.runtime.AbstractFunction1<SparkSession, Rule<LogicalPlan>>() {
          @Override
          public Rule<LogicalPlan> apply(SparkSession session) {
            return new SpatialFilterRule();
          }
        });
    return scala.runtime.BoxedUnit.UNIT;
  }
}
