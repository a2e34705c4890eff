package geomesa.spark.rules;

import java.util.ArrayList;
import java.util.HashMap;
import java.util.List;
import java.util.Locale;
import java.util.Map;
import java.util.Set;
import java.util.regex.Pattern;

import org.apache.spark.sql.catalyst.expressions.Alias;
import org.apache.spark.sql.catalyst.expressions.And;
import org.apache.spark.sql.catalyst.expressions.Attribute;
import org.apache.spark.sql.catalyst.expressions.AttributeReference;
import org.apache.spark.sql.catalyst.expressions.BinaryComparison;
import org.apache.spark.sql.catalyst.expressions.Cast;
import org.apache.spark.sql.catalyst.expressions.EqualTo;
import org.apache.spark.sql.catalyst.expressions.ExprId;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.GreaterThan;
import org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual;
import org.apache.spark.sql.catalyst.expressions.In;
import org.apache.spark.sql.catalyst.expressions.LessThan;
import org.apache.spark.sql.catalyst.expressions.LessThanOrEqual;
import org.apache.spark.sql.catalyst.expressions.Literal;
import org.apache.spark.sql.catalyst.expressions.NamedExpression;
import org.apache.spark.sql.catalyst.expressions.Or;
import org.apache.spark.sql.catalyst.expressions.PythonUDF;
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression;
import org.apache.spark.sql.catalyst.expressions.aggregate.First;
import org.apache.spark.sql.catalyst.plans.logical.Aggregate;
import org.apache.spark.sql.catalyst.plans.logical.Filter;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.plans.logical.Project;
import org.apache.spark.sql.catalyst.rules.Rule;
import org.apache.spark.sql.execution.datasources.LogicalRelation;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.unsafe.types.UTF8String;

/**
 * The engine's spatial pushdown: a Catalyst optimizer rule (GeoMesa's
 * SpatialOptimizationsRule analogue, SQLRules.scala) that prunes the hive
 * directories of the engine's layouts from literal conjuncts in plain user
 * SQL.  It recognises, by their partition columns:
 *
 *  - point layouts (planner.write_partitioned): `cell_bucket`, plus
 *    `time_bin` for the Z3 form.  A literal geometry related to the row's
 *    own `st_point(lon, lat)` injects `cell_bucket IN (buckets covering
 *    the literal's bbox)`;
 *  - XZ2/XZ3 layouts (xz2.write_partitioned_geoms): `xz_level` and
 *    `xz_bucket`, plus `time_bin` for XZ3.  A literal geometry related to
 *    the row's `st_geomFromWKT(wkt)` injects one `(xz_level = L AND
 *    xz_bucket IN cover_L)` term per level L below BUCKET_RES and one
 *    `(xz_level >= BUCKET_RES AND xz_bucket IN cover_BUCKET_RES)` term
 *    (xz2.xz_prune_condition).  A layout row is one (feature, key) pair,
 *    so the spatial prune applies only beneath the per-feature dedupe of
 *    xz2.feature_view -- an Aggregate grouped on the id whose other
 *    outputs are first(...) of the layout's non-key columns -- where
 *    dropping the key rows far from the literal cannot change a surviving
 *    feature's row (its key rows agree on every non-key column);
 *  - attribute layouts (planner.write_attr_partitioned): `attr_part`, plus
 *    `date_bin`.  Literal =, <, <=, >, >= and BETWEEN on the attribute
 *    column inject `attr_part` bounds: "x" + the hex of the UTF-8 bytes of
 *    the literal's first code point, what the writer's `substring(attr,
 *    1, 1)` keeps (an order-preserving coarsening of the bytes).  The
 *    attribute column is the relation's one string data column; with
 *    several the rule stands down, since bounding the wrong one would drop
 *    rows (the Python registration this rule replaced was told the column).
 *
 * Literal timestamp bounds on the relation's one timestamp column inject
 * `time_bin` (or `date_bin`) bounds on any of them, with one second of
 * slack each way so unix_timestamp truncation never matters; with several
 * timestamp columns the rule stands down.  A TIMESTAMP_NTZ column is binned
 * by its UTC wall clock while SQL compares it in the session time zone, so
 * its bounds get a day of slack instead, more than any zone offset.
 *
 * Soundness, by construction:
 *  - only conjuncts of a Filter sitting on the relation itself, or on the
 *    feature-view dedupe above it (through attribute-only Projects and
 *    Filters), are read, and every column must resolve to the relation's
 *    own stored column, so a subquery aliasing `lon + 100 AS lon`, another
 *    table's column, an OR/NOT or a CASE projection matches nothing;
 *  - the literal geometry is `st_geomFromWKT('<wkt>')` or `st_point(<num>,
 *    <num>)`.  Every coordinate token of the WKT is parsed; one that is not
 *    a finite number means no injection.  A row geometry satisfying
 *    contains/intersects/within/covers meets the literal, which lies in
 *    its vertex bbox; st_dwithin pads that bbox by the great-circle radius
 *    (R = 6371008.8 m, geo/kernels.py): r/R rad of latitude, and the
 *    longitude pad inverts the haversine at the worst padded latitude,
 *    widening to every longitude when it crosses the antimeridian or
 *    reaches a pole;
 *  - the original predicate stays in the plan as the exact refine, so a
 *    pattern miss degrades to a full scan, never a wrong answer;
 *  - the rule is idempotent: a partition column already referenced by the
 *    Filter (or a Filter below the dedupe) is left alone, and a cover of
 *    every bucket is not injected.
 *
 * BUCKET_RES and TIME_BIN_DAYS are the layout format's constants and equal
 * plans.planner's (tests/test_jvm_rule.py checks it).  Compiled with plain
 * javac against the pyspark distribution's own jars (tools/build_jvm_rule.py).
 */
public class SpatialFilterRule extends Rule<LogicalPlan> {
  /** plans.planner.BUCKET_RES */
  public static final int BUCKET_RES = 4;
  /** plans.planner.TIME_BIN_DAYS */
  public static final int TIME_BIN_DAYS = 7;
  static final long BIN_SECONDS = 86400L * TIME_BIN_DAYS;
  static final double PAD = 1e-9;
  /** geo.kernels.EARTH_RADIUS_M */
  static final double EARTH_RADIUS_M = 6371008.8;
  static final Pattern NUMBER =
      Pattern.compile("[-+]?(?:[0-9]+\\.?[0-9]*|\\.[0-9]+)(?:[eE][-+]?[0-9]+)?");
  static final Set<String> WKT_WORDS = Set.of(
      "POINT", "LINESTRING", "POLYGON", "MULTIPOINT", "MULTILINESTRING",
      "MULTIPOLYGON", "GEOMETRYCOLLECTION", "Z", "M", "ZM");

  @Override
  public LogicalPlan apply(LogicalPlan plan) {
    return plan.transformUp(
        new scala.runtime.AbstractPartialFunction<LogicalPlan, LogicalPlan>() {
          @Override
          public boolean isDefinedAt(LogicalPlan p) {
            return p instanceof Filter;
          }

          @Override
          @SuppressWarnings("unchecked")
          public <A1 extends LogicalPlan, B1> B1 applyOrElse(
              A1 x, scala.Function1<A1, B1> dflt) {
            if (x instanceof Filter) {
              return (B1) rewrite((Filter) x);
            }
            return dflt.apply(x);
          }
        });
  }

  LogicalPlan rewrite(Filter f) {
    Scan s = Scan.of(f.child());
    if (s == null) {
      return f;
    }
    List<Expression> conjs = new ArrayList<>();
    splitAnd(f.condition(), conjs);
    List<Expression> prune = new ArrayList<>();

    Attribute bucket = s.column("cell_bucket");
    if (bucket != null && !s.feature && s.fresh(f, "cell_bucket")) {
      double[] bbox = spatialBBox(conjs, s, false);
      Expression in = bbox == null ? null : in(bucket, cellsFor(bbox, BUCKET_RES));
      if (in != null) {
        prune.add(in);
      }
    }
    Attribute level = s.column("xz_level");
    Attribute xzBucket = s.column("xz_bucket");
    if (level != null && xzBucket != null && s.feature && s.fresh(f, "xz_bucket")) {
      double[] bbox = spatialBBox(conjs, s, true);
      Expression terms = bbox == null ? null : xzTerms(level, xzBucket, bbox);
      if (terms != null) {
        prune.add(terms);
      }
    }
    Attribute attrPart = s.column("attr_part");
    Attribute attr = s.attributeColumn();
    if (attrPart != null && attr != null && !s.feature && s.fresh(f, "attr_part")) {
      prune.addAll(attrPartBounds(attrPart, attr, conjs, s));
    }
    Attribute ts = s.timestampColumn();
    for (String binName : new String[] {"time_bin", "date_bin"}) {
      Attribute bin = s.column(binName);
      if (bin != null && ts != null && s.fresh(f, binName)) {
        prune.addAll(timeBinBounds(bin, ts, conjs, s));
      }
    }
    if (prune.isEmpty()) {
      return f;
    }
    Expression cond = prune.get(0);
    for (Expression e : prune.subList(1, prune.size())) {
      cond = new And(cond, e);
    }
    return new Filter(f.condition(), s.inject(f.child(), cond));
  }

  /** What a Filter's conjuncts can be resolved against: the layout relation
   *  under the Filter, directly or beneath the feature-view dedupe. */
  static final class Scan {
    final LogicalRelation rel;
    /** Filter-visible attribute -> the relation's stored column */
    final Map<ExprId, Attribute> columns = new HashMap<>();
    /** true when the Filter sits on the feature-view dedupe */
    final boolean feature;
    /** conditions of the Filters between the dedupe and the relation */
    final List<Expression> below = new ArrayList<>();

    private Scan(LogicalRelation rel, boolean feature) {
      this.rel = rel;
      this.feature = feature;
    }

    static Scan of(LogicalPlan child) {
      if (child instanceof LogicalRelation) {
        Scan s = new Scan((LogicalRelation) child, false);
        for (Attribute a : output(child)) {
          s.columns.put(a.exprId(), a);
        }
        return s;
      }
      if (!(child instanceof Aggregate)) {
        return null;
      }
      Aggregate agg = (Aggregate) child;
      if (agg.groupingExpressions().size() != 1
          || !(agg.groupingExpressions().head() instanceof AttributeReference)) {
        return null;
      }
      LogicalPlan p = agg.child();
      List<Expression> below = new ArrayList<>();
      while (!(p instanceof LogicalRelation)) {
        if (p instanceof Filter) {
          below.add(((Filter) p).condition());
          p = ((Filter) p).child();
        } else if (p instanceof Project && allAttributes((Project) p)) {
          p = ((Project) p).child();
        } else {
          return null;
        }
      }
      Scan s = new Scan((LogicalRelation) p, true);
      if (s.column("xz_level") == null || s.column("xz_bucket") == null) {
        return null; // the dedupe is value-stable only over an XZ layout
      }
      s.below.addAll(below);
      Map<ExprId, Attribute> stored = new HashMap<>();
      for (Attribute a : output(p)) {
        stored.put(a.exprId(), a);
      }
      Expression key = agg.groupingExpressions().head();
      scala.collection.Iterator<NamedExpression> it = agg.aggregateExpressions().iterator();
      while (it.hasNext()) {
        NamedExpression ne = it.next();
        Expression src;
        if (ne instanceof AttributeReference && ((Expression) ne).semanticEquals(key)) {
          src = (Expression) ne;
        } else if (ne instanceof Alias && isFirstOfColumn(((Alias) ne).child())) {
          src = ((AggregateExpression) ((Alias) ne).child()).aggregateFunction().children().head();
        } else {
          return null; // not the dedupe shape: some output is not first(col)
        }
        Attribute a = stored.get(((AttributeReference) src).exprId());
        if (a == null || KEY_COLUMNS.contains(a.name())) {
          return null; // a key column differs between a feature's rows
        }
        s.columns.put(ne.exprId(), a);
      }
      return s;
    }

    static final Set<String> KEY_COLUMNS = Set.of("xz_level", "xz_cell", "xz_bucket");

    static boolean isFirstOfColumn(Expression e) {
      if (!(e instanceof AggregateExpression)) {
        return false;
      }
      AggregateExpression ae = (AggregateExpression) e;
      return ae.aggregateFunction() instanceof First && !ae.isDistinct()
          && ae.filter().isEmpty()
          && ((First) ae.aggregateFunction()).child() instanceof AttributeReference;
    }

    static boolean allAttributes(Project p) {
      scala.collection.Iterator<NamedExpression> it = p.projectList().iterator();
      while (it.hasNext()) {
        if (!(it.next() instanceof AttributeReference)) {
          return false;
        }
      }
      return true;
    }

    /** the relation's stored column named {@code name}, or null */
    Attribute column(String name) {
      for (Attribute a : output(rel)) {
        if (a.name().equals(name)) {
          return a;
        }
      }
      return null;
    }

    /** the stored column {@code e} reads, or null when it is anything else */
    Attribute resolve(Expression e) {
      return e instanceof AttributeReference
          ? columns.get(((AttributeReference) e).exprId()) : null;
    }

    boolean resolvesTo(Expression e, String name) {
      Attribute a = resolve(e);
      return a != null && a.name().equals(name);
    }

    /** the one timestamp column, or null when there are none or several */
    Attribute timestampColumn() {
      Attribute found = null;
      for (Attribute a : output(rel)) {
        if (isTimestamp(a.dataType())) {
          if (found != null) {
            return null;
          }
          found = a;
        }
      }
      return found;
    }

    /** the one binary-collation string column besides attr_part, or null */
    Attribute attributeColumn() {
      Attribute found = null;
      for (Attribute a : output(rel)) {
        if (a.dataType().equals(DataTypes.StringType) && !a.name().equals("attr_part")) {
          if (found != null) {
            return null;
          }
          found = a;
        }
      }
      return found;
    }

    /** no condition on this path already references {@code name} */
    boolean fresh(Filter f, String name) {
      if (referencesName(f.condition(), name)) {
        return false;
      }
      for (Expression c : below) {
        if (referencesName(c, name)) {
          return false;
        }
      }
      return true;
    }

    /** {@code plan} with Filter(cond) placed directly on the relation */
    LogicalPlan inject(LogicalPlan plan, Expression cond) {
      if (plan instanceof LogicalRelation) {
        return new Filter(cond, plan);
      }
      List<LogicalPlan> kids = new ArrayList<>();
      kids.add(inject(plan.children().head(), cond));
      return plan.withNewChildren(toSeq(kids));
    }
  }

  static List<Attribute> output(LogicalPlan p) {
    return scala.jdk.javaapi.CollectionConverters.asJava(p.output());
  }

  /** `col IN (cells)`, or null when the cells are every bucket or the
   *  column is not an integral partition column. */
  static Expression in(Attribute col, List<Long> cells) {
    if (cells.size() >= (1L << (2 * BUCKET_RES))) {
      return null; // covers every bucket -- nothing to prune
    }
    List<Expression> lits = new ArrayList<>();
    for (long c : cells) {
      Literal l = integral(col, c);
      if (l == null) {
        return null;
      }
      lits.add(l);
    }
    return new In(col, toSeq(lits));
  }

  /** ancestor-cover terms of xz2.xz_prune_condition, or null */
  static Expression xzTerms(Attribute level, Attribute bucket, double[] bbox) {
    Expression shared = in(bucket, cellsFor(bbox, BUCKET_RES));
    Literal top = integral(level, BUCKET_RES);
    if (shared == null || top == null) {
      return null;
    }
    Expression out = new And(new GreaterThanOrEqual(level, top), shared);
    for (int lv = BUCKET_RES - 1; lv >= 0; lv--) {
      // fewer than 4^BUCKET_RES cells, and the types passed above
      Expression cover = in(bucket, cellsFor(bbox, lv));
      out = new Or(new And(new EqualTo(level, integral(level, lv)), cover), out);
    }
    return out;
  }

  /** an int or long literal matching {@code col}'s type, or null */
  static Literal integral(Attribute col, long v) {
    DataType dt = col.dataType();
    if (dt.sameType(DataTypes.LongType)) {
      return Literal.create(v, DataTypes.LongType);
    }
    if (dt.sameType(DataTypes.IntegerType) && v >= Integer.MIN_VALUE && v <= Integer.MAX_VALUE) {
      return Literal.create((int) v, DataTypes.IntegerType);
    }
    return null;
  }

  /** `attr_part >= / <=` bounds implied by literal string comparisons on
   *  the attribute column. */
  static List<Expression> attrPartBounds(
      Attribute attrPart, Attribute attr, List<Expression> conjs, Scan s) {
    List<Expression> out = new ArrayList<>();
    if (!attrPart.dataType().equals(DataTypes.StringType)) {
      return out;
    }
    UTF8String lo = null, hi = null;
    for (Expression c : conjs) {
      Bound b = Bound.of(c, s, attr);
      if (b == null || !(b.lit.value() instanceof UTF8String)
          || !b.lit.dataType().equals(DataTypes.StringType)) {
        continue;
      }
      UTF8String v = (UTF8String) b.lit.value();
      if (b.lower && (lo == null || v.compareTo(lo) > 0)) {
        lo = v;
      }
      if (b.upper && (hi == null || v.compareTo(hi) < 0)) {
        hi = v;
      }
    }
    if (lo != null) {
      out.add(new GreaterThanOrEqual(attrPart, attrPartValue(lo)));
    }
    if (hi != null) {
      out.add(new LessThanOrEqual(attrPart, attrPartValue(hi)));
    }
    return out;
  }

  /** planner._attr_part_value: "x" + upper hex of the first code point's
   *  UTF-8 bytes. */
  static Literal attrPartValue(UTF8String v) {
    StringBuilder sb = new StringBuilder("x");
    for (byte b : v.substring(0, 1).getBytes()) {
      sb.append(String.format("%02X", b & 0xff));
    }
    return Literal.create(sb.toString(), DataTypes.StringType);
  }

  /** `bin >= lo` / `bin <= hi` conjuncts implied by literal timestamp
   *  bounds on the layout's (unique) timestamp column.  Bounds are slack by
   *  one second each way (a day for TIMESTAMP_NTZ) so neither the
   *  truncation of unix_timestamp nor the session zone matters. */
  static List<Expression> timeBinBounds(
      Attribute bin, Attribute tsCol, List<Expression> conjs, Scan s) {
    long slack = tsCol.dataType().sameType(DataTypes.TimestampNTZType) ? 86400L : 1L;
    Long lo = null, hi = null;
    for (Expression c : conjs) {
      Bound b = Bound.of(c, s, tsCol);
      Long micros = b == null ? null : tsMicros(b.lit);
      if (micros == null) {
        continue;
      }
      long sec = Math.floorDiv(micros, 1_000_000L);
      if (b.lower) {
        long binLo = Math.floorDiv(sec - slack, BIN_SECONDS);
        lo = (lo == null) ? binLo : Math.max(lo, binLo);
      }
      if (b.upper) {
        long binHi = Math.floorDiv(sec + slack, BIN_SECONDS);
        hi = (hi == null) ? binHi : Math.min(hi, binHi);
      }
    }
    List<Expression> out = new ArrayList<>();
    Literal loLit = lo == null ? null : integral(bin, lo);
    Literal hiLit = hi == null ? null : integral(bin, hi);
    if (loLit != null) {
      out.add(new GreaterThanOrEqual(bin, loLit));
    }
    if (hiLit != null) {
      out.add(new LessThanOrEqual(bin, hiLit));
    }
    return out;
  }

  /** A comparison between a stored column and a literal, normalised so the
   *  column is on the left: which side of the literal the column lies. */
  static final class Bound {
    final Literal lit;
    final boolean lower;
    final boolean upper;

    private Bound(Literal lit, boolean lower, boolean upper) {
      this.lit = lit;
      this.lower = lower;
      this.upper = upper;
    }

    static Bound of(Expression c, Scan s, Attribute col) {
      if (!(c instanceof BinaryComparison)) {
        return null;
      }
      Expression l = ((BinaryComparison) c).left();
      Expression r = ((BinaryComparison) c).right();
      boolean colLeft;
      if (isColumn(l, s, col) && r instanceof Literal) {
        colLeft = true;
      } else if (isColumn(r, s, col) && l instanceof Literal) {
        colLeft = false;
      } else {
        return null;
      }
      Literal lit = (Literal) (colLeft ? r : l);
      if (lit.value() == null) {
        return null;
      }
      boolean ge = c instanceof GreaterThanOrEqual || c instanceof GreaterThan;
      boolean le = c instanceof LessThanOrEqual || c instanceof LessThan;
      boolean eq = c instanceof EqualTo;
      if (!ge && !le && !eq) {
        return null; // <=> and friends
      }
      // col >= lit, or lit <= col: the literal bounds the column from below
      return new Bound(lit, eq || (colLeft ? ge : le), eq || (colLeft ? le : ge));
    }

    /** {@code e} reads {@code col}, bare or cast to a timestamp (how SQL
     *  compares a TIMESTAMP_NTZ column with a TIMESTAMP literal) */
    static boolean isColumn(Expression e, Scan s, Attribute col) {
      if (e instanceof Cast && e.dataType().sameType(DataTypes.TimestampType)
          && ((Cast) e).child().dataType().sameType(DataTypes.TimestampNTZType)) {
        e = ((Cast) e).child();
      }
      Attribute a = s.resolve(e);
      return a != null && a.exprId().equals(col.exprId());
    }
  }

  static boolean isTimestamp(DataType dt) {
    return dt.sameType(DataTypes.TimestampType) || dt.sameType(DataTypes.TimestampNTZType);
  }

  /** micros-since-epoch of a timestamp literal, else null. */
  static Long tsMicros(Literal lit) {
    if (!isTimestamp(lit.dataType())) {
      return null;
    }
    Object v = lit.value();
    return (v instanceof Long) ? (Long) v : null;
  }

  static void splitAnd(Expression e, List<Expression> out) {
    if (e instanceof And) {
      splitAnd(((And) e).left(), out);
      splitAnd(((And) e).right(), out);
    } else {
      out.add(e);
    }
  }

  static boolean referencesName(Expression e, String name) {
    if (e instanceof AttributeReference
        && ((AttributeReference) e).name().equals(name)) {
      return true;
    }
    scala.collection.Iterator<Expression> it = e.children().iterator();
    while (it.hasNext()) {
      if (referencesName(it.next(), name)) {
        return true;
      }
    }
    return false;
  }

  /** bbox the row's key geometry must meet, from the first conjunct that
   *  relates a literal geometry to it, or null.  The row geometry is
   *  `st_geomFromWKT(wkt)` on an XZ layout and `st_point(lon, lat)` on a
   *  point layout, over the relation's stored columns. */
  static double[] spatialBBox(List<Expression> conjs, Scan s, boolean xz) {
    for (Expression c : conjs) {
      double[] b = literalBBox(c, s, xz);
      if (b != null) {
        return b;
      }
    }
    return null;
  }

  static double[] literalBBox(Expression conj, Scan s, boolean xz) {
    if (!(conj instanceof PythonUDF)) {
      return null;
    }
    PythonUDF udf = (PythonUDF) conj;
    String n = udf.name().toLowerCase(Locale.ROOT);
    boolean isRelate = n.equals("st_contains") || n.equals("st_intersects")
        || n.equals("st_within") || n.equals("st_covers");
    boolean isDwithin = n.equals("st_dwithin");
    if (!isRelate && !isDwithin) {
      return null;
    }
    double[] bbox = null;
    boolean rowGeom = false;
    Double radius = null;
    scala.collection.Iterator<Expression> it = udf.children().iterator();
    while (it.hasNext()) {
      Expression child = it.next();
      double[] b = bbox == null ? literalGeomBBox(child) : null;
      if (b != null) {
        bbox = b;
      } else if (xz ? isRowWkt(child, s) : isRowPoint(child, s)) {
        rowGeom = true;
      } else if (radius == null) {
        radius = literalNumber(child);
      }
    }
    if (bbox == null || !rowGeom) {
      return null;
    }
    if (isDwithin) {
      if (radius == null || !(radius >= 0.0) || Double.isInfinite(radius)) {
        return null;
      }
      return padForRadius(bbox, radius);
    }
    return bbox;
  }

  static boolean isUdf(Expression e, int nArgs, String... names) {
    if (!(e instanceof PythonUDF) || e.children().size() != nArgs) {
      return false;
    }
    String n = ((PythonUDF) e).name().toLowerCase(Locale.ROOT);
    for (String name : names) {
      if (n.equals(name)) {
        return true;
      }
    }
    return false;
  }

  static final String[] POINT_FNS = {"st_point", "st_makepoint"};
  static final String[] WKT_FNS = {"st_geomfromwkt", "st_geomfromtext", "st_geometryfromtext"};

  /** st_point(lon, lat) over the relation's stored `lon` and `lat` */
  static boolean isRowPoint(Expression e, Scan s) {
    return isUdf(e, 2, POINT_FNS)
        && s.resolvesTo(e.children().apply(0), "lon")
        && s.resolvesTo(e.children().apply(1), "lat");
  }

  /** st_geomFromWKT(wkt) over the relation's stored `wkt` */
  static boolean isRowWkt(Expression e, Scan s) {
    return isUdf(e, 1, WKT_FNS) && s.resolvesTo(e.children().head(), "wkt");
  }

  /** bbox of st_geomFromWKT('<wkt>') or st_point(<num>, <num>), else null */
  static double[] literalGeomBBox(Expression e) {
    if (isUdf(e, 1, WKT_FNS)) {
      Expression arg = e.children().head();
      if (arg instanceof Literal && ((Literal) arg).value() != null) {
        return wktBBox(((Literal) arg).value().toString());
      }
      return null;
    }
    if (isUdf(e, 2, POINT_FNS)) {
      Double x = literalNumber(e.children().apply(0));
      Double y = literalNumber(e.children().apply(1));
      if (x == null || y == null || !Double.isFinite(x) || !Double.isFinite(y)) {
        return null;
      }
      return new double[] {x, y, x, y};
    }
    return null;
  }

  /** numeric Literal (int/long/float/double/decimal) as a double, else
   *  null.  Unwraps Cast: SQL `300000.0` parses as a Decimal literal and
   *  the UDF's double param wraps it in Cast(Literal). */
  static Double literalNumber(Expression e) {
    while (e instanceof Cast) {
      e = ((Cast) e).child();
    }
    if (!(e instanceof Literal)) {
      return null;
    }
    Object v = ((Literal) e).value();
    if (v == null) {
      return null;
    }
    if (v instanceof Number) {
      return ((Number) v).doubleValue();
    }
    try { // org.apache.spark.sql.types.Decimal is not a java.lang.Number
      return Double.parseDouble(v.toString());
    } catch (NumberFormatException ex) {
      return null;
    }
  }

  /** pad a lon/lat bbox so it contains every point within r_m great-circle
   *  meters (engine sphere R = EARTH_RADIUS_M) of the original box.  The
   *  latitude pad is exact (r/R radians); the longitude pad inverts the
   *  haversine at the worst |latitude| the padded box can reach
   *  (sin(dLam/2) = sin(r/2R) / cos(phi_max)).  When that pad crosses the
   *  antimeridian or a pole the returned lon range exceeds [-180, 180],
   *  which cellsFor() reads as "every longitude column".  1.001 safety
   *  factor: padding MORE is always sound. */
  static double[] padForRadius(double[] b, double rM) {
    double latPad = Math.toDegrees(rM / EARTH_RADIUS_M) * 1.001 + PAD;
    double lat0 = b[1] - latPad, lat1 = b[3] + latPad;
    double phiMax = Math.toRadians(
        Math.min(90.0, Math.max(Math.abs(lat0), Math.abs(lat1))));
    double s = Math.sin(Math.min(Math.PI / 2.0, rM / (2.0 * EARTH_RADIUS_M)));
    double c = Math.cos(phiMax);
    double lonPad;
    if (c <= 1e-12 || s / c >= 1.0) {
      lonPad = 361.0; // reaches a pole: every longitude is in range
    } else {
      lonPad = Math.toDegrees(2.0 * Math.asin(s / c)) * 1.001 + PAD;
    }
    return new double[] {
        b[0] - lonPad, Math.max(-90.0, lat0), b[2] + lonPad, Math.min(90.0, lat1)
    };
  }

  /** vertex bbox of a WKT text, or null when it has no vertex or any
   *  coordinate token is not a finite number.  The text between two
   *  delimiters -- `(`, `)` or `,` -- is one vertex (x y [z [m]]) once the
   *  geometry keywords are set aside. */
  static double[] wktBBox(String wkt) {
    double lon0 = Double.POSITIVE_INFINITY, lat0 = Double.POSITIVE_INFINITY;
    double lon1 = Double.NEGATIVE_INFINITY, lat1 = Double.NEGATIVE_INFINITY;
    boolean any = false;
    for (String group : wkt.split("[(),]", -1)) {
      List<Double> nums = new ArrayList<>();
      for (String tok : group.trim().split("\\s+")) {
        if (tok.isEmpty() || WKT_WORDS.contains(tok.toUpperCase(Locale.ROOT))) {
          continue;
        }
        if (!NUMBER.matcher(tok).matches()) {
          return null;
        }
        double v = Double.parseDouble(tok);
        if (!Double.isFinite(v)) {
          return null;
        }
        nums.add(v);
      }
      if (nums.isEmpty()) {
        continue;
      }
      if (nums.size() < 2 || nums.size() > 4) {
        return null;
      }
      lon0 = Math.min(lon0, nums.get(0));
      lat0 = Math.min(lat0, nums.get(1));
      lon1 = Math.max(lon1, nums.get(0));
      lat1 = Math.max(lat1, nums.get(1));
      any = true;
    }
    return any ? new double[] {lon0, lat0, lon1, lat1} : null;
  }

  /** Morton cells at {@code res} covering the (PAD-widened) bbox. */
  static List<Long> cellsFor(double[] bbox, int res) {
    long n = 1L << res;
    long x0 = grid(bbox[0] - PAD, -180.0, 360.0, n);
    long x1 = grid(bbox[2] + PAD, -180.0, 360.0, n);
    if (bbox[0] < -180.0 || bbox[2] > 180.0) {
      x0 = 0; // padded range wraps the antimeridian: take every lon column
      x1 = n - 1;
    }
    long y0 = grid(bbox[1] - PAD, -90.0, 180.0, n);
    long y1 = grid(bbox[3] + PAD, -90.0, 180.0, n);
    List<Long> out = new ArrayList<>();
    for (long x = x0; x <= x1; x++) {
      for (long y = y0; y <= y1; y++) {
        out.add(morton(x, y));
      }
    }
    return out;
  }

  static long grid(double v, double lo, double span, long n) {
    long g = (long) Math.floor((v - lo) / span * n);
    return Math.max(0, Math.min(n - 1, g));
  }

  static long morton(long x, long y) {
    long r = 0;
    for (int i = 0; i < 32; i++) {
      r |= ((x >> i) & 1L) << (2 * i);
      r |= ((y >> i) & 1L) << (2 * i + 1);
    }
    return r;
  }

  static <T> scala.collection.immutable.Seq<T> toSeq(List<T> l) {
    return scala.jdk.javaapi.CollectionConverters.asScala(l).toSeq();
  }
}
