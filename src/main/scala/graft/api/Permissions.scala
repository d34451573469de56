package graft.api

import graft.api.QueryBuilder._

/** ROLE-BASED access control over the query front ends — the engine's
  * analog of the permission layer the reference configures around its
  * endpoint (/root/reference/README.md:56-80 walks through granting and
  * restricting table access per role; Hasura turns those grants into
  * per-role ROW filters and COLUMN allowlists evaluated on every
  * request).
  *
  * The model mirrors Hasura metadata:
  *  - per (role, table): an optional row FILTER (a [[BoolExp]], the
  *    same where-tree language requests use — relationship predicates
  *    included) and a COLUMN allowlist per operation class;
  *  - `secure` rewrites a [[Request]] for a role: the role filter ANDs
  *    into the request's where at EVERY level (root, nested
  *    relationships, aggregate relationships, ordering aggregates, and
  *    inside relationship predicates' child tables), and any selected
  *    column outside the allowlist REJECTS loudly (Hasura's "field not
  *    found in type" — never silent column dropping, which would
  *    change answers);
  *  - `secureFields` guards a mutation document the same way: the
  *    where of update/delete gains the role filter (a row the role
  *    cannot see cannot be written — Hasura's update/delete
  *    permission filter), inserts must stay inside the column
  *    allowlist, and returning selections are column-checked.
  *
  * Scale posture: a row filter is just more predicate — it pushes into
  * the same scans the request already pays; the column check is
  * driver-side request validation. Filters compose with decorrelation
  * (a role filter containing a relationship predicate rides [[run]]'s
  * machinery unchanged).
  */
object Permissions {

  /** One role's access to one table. `filter = None` means
    * unrestricted rows; `columns = None` means all columns. */
  final case class TablePerm(filter: Option[BoolExp] = None,
      columns: Option[Set[String]] = None)

  /** Role → table → permission; an ABSENT entry means NO access (the
    * Hasura default: nothing is granted until metadata says so). */
  final case class Policy(grants: Map[(String, String), TablePerm]) {
    def get(role: String, table: String): Either[String, TablePerm] =
      grants.get((role, table)).toRight(
        s"role '$role' has no access to table '$table'")
  }

  private def checkCols(cols: Seq[String], perm: TablePerm, role: String,
      table: String, what: String): Either[String, Unit] =
    perm.columns match {
      case None => Right(())
      case Some(allowed) =>
        val bad = cols.filterNot(allowed)
        if (bad.isEmpty) Right(())
        else Left(s"role '$role' cannot access column(s) " +
          s"${bad.mkString(", ")} of '$table' ($what)")
    }

  private def andWith(filter: Option[BoolExp],
      where: Option[BoolExp]): Option[BoolExp] = (filter, where) match {
    case (None, w) => w
    case (f @ Some(_), None) => f
    case (Some(f), Some(w)) => Some(And(f, w))
  }

  /** Columns a where-tree reads on ITS OWN table (relationship
    * predicates recurse separately against the child's grant). */
  private def whereCols(e: BoolExp): Seq[String] = e match {
    case Eq(f, _) => Seq(f)
    case Neq(f, _) => Seq(f)
    case Gt(f, _) => Seq(f)
    case Gte(f, _) => Seq(f)
    case Lt(f, _) => Seq(f)
    case Lte(f, _) => Seq(f)
    case In(f, _) => Seq(f)
    case Nin(f, _) => Seq(f)
    case Like(f, _) => Seq(f)
    case Nlike(f, _) => Seq(f)
    case Ilike(f, _) => Seq(f)
    case Regex(f, _, _) => Seq(f)
    case Nregex(f, _, _) => Seq(f)
    case Similar(f, _) => Seq(f)
    case Nsimilar(f, _) => Seq(f)
    case IsNull(f, _) => Seq(f)
    case HasKey(f, _) => Seq(f)
    case HasKeysAny(f, _) => Seq(f)
    case HasKeysAll(f, _) => Seq(f)
    case JsonContains(f, _) => Seq(f)
    case JsonContainedIn(f, _) => Seq(f)
    case And(es @ _*) => es.flatMap(whereCols)
    case Or(es @ _*) => es.flatMap(whereCols)
    case Not(x) => whereCols(x)
    case RelPred(_, _, _, _) => Nil // child columns checked by secureRel
    case FlagRef(_) => Nil
    case KeySet(f, _) => Seq(f)
    case Cast(f, _, _) => Seq(f) // inner tree binds to the same field
  }

  /** Apply the role's grants INSIDE a where-tree: every relationship
    * predicate's child table needs a grant, its child filter ANDs into
    * the predicate, and the predicate's own columns are checked
    * against the child allowlist. */
  private def secureWhere(w: BoolExp, role: String, policy: Policy,
      enclosing: TablePerm, enclosingTable: String)
      : Either[String, BoolExp] = w match {
    case RelPred(table, ck, pk, pred) =>
      for {
        // the PARENT-side join key is a column of the enclosing table
        // — an out-of-grant column here would become an equality
        // oracle (the wire codec lets callers pick parent_key freely)
        _ <- checkCols(Seq(pk), enclosing, role, enclosingTable,
          "relationship predicate join key")
        perm <- policy.get(role, table)
        _ <- checkCols(whereCols(pred) :+ ck, perm, role, table,
          "relationship predicate")
        p2 <- secureWhere(pred, role, policy, perm, table)
      } yield RelPred(table, ck, pk, andWith(perm.filter, Some(p2)).get)
    case And(es @ _*) =>
      sequence(es.map(secureWhere(_, role, policy, enclosing,
        enclosingTable))).map(And(_: _*))
    case Or(es @ _*) =>
      sequence(es.map(secureWhere(_, role, policy, enclosing,
        enclosingTable))).map(Or(_: _*))
    case Not(x) =>
      secureWhere(x, role, policy, enclosing, enclosingTable).map(Not(_))
    case leaf => Right(leaf)
  }

  /** Evaluate a filter against a LITERAL row (the insert check
    * clause): SQL three-valued logic collapses unknown to false (an
    * absent or null column never passes a comparison), and operators
    * with no driver-side literal semantics (patterns, relationship
    * predicates) reject loudly rather than guess. */
  private[api] def evalLiteral(e: BoolExp,
      row: Map[String, Any]): Either[String, Boolean] = {
    // ANY integral/floating pairing compares numerically — the row
    // value arrives as whatever the caller's literal was (a scala Int
    // in a programmatic Insert, a Double against an Int filter
    // literal); an unmatched pairing here is a WRONG denial of a row
    // that genuinely satisfies the filter, not a safe default
    def num(x: Any): Option[Double] = x match {
      case n: Long => Some(n.toDouble)
      case n: Int => Some(n.toDouble)
      case n: Short => Some(n.toDouble)
      case n: Byte => Some(n.toDouble)
      case n: Double => Some(n)
      case n: Float => Some(n.toDouble)
      case n: java.math.BigDecimal => Some(n.doubleValue)
      case _ => None
    }
    // exact comparison paths: a Double round-trip is lossy above 2^53,
    // so 64-bit ids (snowflake-style) filtered by Eq/Gt could wrongly
    // pass/fail the insert CHECK clause. Integral×integral compares as
    // Long; any pairing involving BigDecimal or a FINITE float widens
    // both sides to BigDecimal (new BigDecimal(double) is the exact
    // binary value). Non-finite floats (NaN/±Inf) have no BigDecimal
    // form and keep the Double path's IEEE compare semantics.
    def intOf(x: Any): Option[Long] = x match {
      case n: Long => Some(n)
      case n: Int => Some(n.toLong)
      case n: Short => Some(n.toLong)
      case n: Byte => Some(n.toLong)
      case _ => None
    }
    def decOf(x: Any): Option[java.math.BigDecimal] = x match {
      case n: java.math.BigDecimal => Some(n)
      case n: Long => Some(java.math.BigDecimal.valueOf(n))
      case n: Int => Some(java.math.BigDecimal.valueOf(n.toLong))
      case n: Short => Some(java.math.BigDecimal.valueOf(n.toLong))
      case n: Byte => Some(java.math.BigDecimal.valueOf(n.toLong))
      case n: Double if !n.isNaN && !n.isInfinite =>
        Some(new java.math.BigDecimal(n))
      case n: Float if !n.isNaN && !n.isInfinite =>
        Some(new java.math.BigDecimal(n.toDouble))
      case _ => None
    }
    def cmp(f: String, v: Any, op: Int => Boolean): Boolean =
      (row.get(f).flatMap(Option(_)), v) match {
        case (Some(a: String), b: String) => op(a.compareTo(b))
        case (Some(a: Boolean), b: Boolean) => op(a.compareTo(b))
        case (Some(a), b) =>
          ((intOf(a), intOf(b)) match {
            case (Some(x), Some(y)) => Some(op(x.compareTo(y)))
            case _ => (decOf(a), decOf(b)) match {
              case (Some(x), Some(y)) => Some(op(x.compareTo(y)))
              case _ => None
            }
          }).getOrElse((num(a), num(b)) match {
            case (Some(x), Some(y)) => op(x.compareTo(y))
            case _ => false // mistyped: unknown → false
          })
        case _ => false // null/absent: unknown → false
      }
    e match {
      case Eq(f, v) => Right(cmp(f, v, _ == 0))
      case Neq(f, v) => Right(row.get(f).flatMap(Option(_)).isDefined &&
        !cmp(f, v, _ == 0))
      case Gt(f, v) => Right(cmp(f, v, _ > 0))
      case Gte(f, v) => Right(cmp(f, v, _ >= 0))
      case Lt(f, v) => Right(cmp(f, v, _ < 0))
      case Lte(f, v) => Right(cmp(f, v, _ <= 0))
      case In(f, vs) => Right(vs.exists(v => cmp(f, v, _ == 0)))
      case Nin(f, vs) => Right(row.get(f).flatMap(Option(_)).isDefined &&
        !vs.exists(v => cmp(f, v, _ == 0)))
      case IsNull(f, want) =>
        Right(row.get(f).flatMap(Option(_)).isEmpty == want)
      case And(es @ _*) =>
        sequence(es.map(evalLiteral(_, row))).map(_.forall(identity))
      case Or(es @ _*) =>
        sequence(es.map(evalLiteral(_, row))).map(_.exists(identity))
      case Not(x) => evalLiteral(x, row).map(!_)
      case other => Left(s"insert check clause cannot evaluate " +
        s"$other against a literal row")
    }
  }

  private def sequence[A](xs: Seq[Either[String, A]])
      : Either[String, Seq[A]] =
    xs.foldRight(Right(Nil): Either[String, List[A]]) { (e, acc) =>
      for (a <- e; t <- acc) yield a :: t
    }

  /** Rewrite `req` for `role`: row filters AND in at every level,
    * selections outside the column allowlists reject loudly. */
  def secure(req: Request, role: String,
      policy: Policy): Either[String, Request] =
    for {
      perm <- policy.get(role, req.table)
      // __typename (a constant type-name answer, reads no column) is
      // exempt HERE — the run/runRoot read path serves it as a
      // literal. The exemption is deliberately scoped to the read
      // surfaces whose executors implement it: stream/aggregate/
      // mutation-returning checks keep denying it, a clean Left
      // instead of an unresolved-column crash at execution
      // column grants are about SOURCE columns — an alias must not
      // smuggle a denied column out under a permitted response key
      _ <- checkCols(req.fields.map(f => req.fieldAs.getOrElse(f, f))
          .filterNot(_ == "__typename") ++
        req.distinctOn ++
        req.orderBy.map(_.field)
          .filterNot(f => req.orderAggs.exists(_.as == f)) ++
        req.where.toSeq.flatMap(whereCols) ++
        // every parent-side join key is a column of THIS table
        req.nested.map(_.parentKey) ++ req.aggRels.map(_.parentKey) ++
        req.orderAggs.map(_.parentKey),
        perm, role, req.table, "select")
      where2 <- req.where match {
        case Some(w) =>
          secureWhere(w, role, policy, perm, req.table).map(Some(_))
        case None => Right(None)
      }
      nested2 <- sequence(req.nested.map(secureNested(_, role, policy)))
      aggRels2 <- sequence(req.aggRels.map(secureAggRel(_, role, policy)))
      orderAggs2 <- sequence(req.orderAggs.map { oa =>
        policy.get(role, oa.table).flatMap { p =>
          // the CHILD-side surface grant-checks like secureNested's:
          // the aggregated column, the join key, AND the caller's
          // where columns — ungranted, any of them turns row ORDER
          // into an oracle over denied data; the where tree also
          // secures recursively (RelPreds inside it grant-check
          // their tables), never rides through unchecked
          checkCols(aggCols(oa.agg) ++
              oa.where.toSeq.flatMap(whereCols) :+ oa.childKey,
            p, role, oa.table, "ordering aggregate").flatMap { _ =>
            (oa.where match {
              case Some(w) =>
                secureWhere(w, role, policy, p, oa.table).map(Some(_))
              case None => Right(None)
            }).map { w2 =>
              // the ordering value must aggregate only VISIBLE child
              // rows — a row-filtered grant threads into the hidden
              // aggregate's child filter (Hasura computes the
              // ordering aggregate over the rows the role can see),
              // the q174/q184 decorrelation discipline
              oa.copy(where = andWith(p.filter, w2))
            }
          }
        }
      })
    } yield req.copy(where = andWith(perm.filter, where2),
      nested = nested2, aggRels = aggRels2, orderAggs = orderAggs2)

  private def aggCols(a: AggField): Seq[String] = a match {
    case CountOf(f, _) => Seq(f)
    case CountAll(_) => Nil
    case CountDistinctOf(f, _) => Seq(f)
    case SumOf(f, _, _) => Seq(f)
    case MinOf(f, _) => Seq(f)
    case MaxOf(f, _) => Seq(f)
    case AvgOf(f, _) => Seq(f)
    case StddevOf(f, _, _, _) => Seq(f)
    case VarianceOf(f, _, _, _) => Seq(f)
  }

  private def secureNested(n: Nested, role: String,
      policy: Policy): Either[String, Nested] =
    for {
      perm <- policy.get(role, n.table)
      // same scoped __typename exemption as secure(): compileNested
      // serves it as a literal
      _ <- checkCols(
        n.fields.map(_.field).filterNot(_ == "__typename") ++
        n.distinctOn ++
        n.orderBy.map(_.field) ++ n.where.toSeq.flatMap(whereCols) ++
        n.subs.map(_.parentKey) :+ n.childKey,
        perm, role, n.table, "relationship select")
      where2 <- n.where match {
        case Some(w) =>
          secureWhere(w, role, policy, perm, n.table).map(Some(_))
        case None => Right(None)
      }
      // every sibling secures independently — one denied sub denies
      // the document (fail-closed, as for the single-sub chain)
      subs2 <- secureNestedSeq(n.subs, role, policy)
    } yield n.copy(where = andWith(perm.filter, where2), subs = subs2)

  /** Secure every relationship in order, fail-closed: one denial
    * denies the whole sequence. Shared by nested siblings and stream
    * relationship selections — one definition, one drift surface. */
  private def secureNestedSeq(ns: Seq[Nested], role: String,
      policy: Policy): Either[String, Seq[Nested]] =
    ns.foldLeft(Right(Seq.empty[Nested]): Either[String, Seq[Nested]]) {
      (acc, m) => acc.flatMap(ss =>
        secureNested(m, role, policy).map(ss :+ _))
    }

  private def secureAggRel(a: AggRel, role: String,
      policy: Policy): Either[String, AggRel] =
    for {
      perm <- policy.get(role, a.table)
      _ <- checkCols(a.aggs.flatMap(aggCols) ++ a.nodes ++
        a.distinctOn ++
        a.orderBy.map(_.field) ++ a.where.toSeq.flatMap(whereCols) :+
        a.childKey,
        perm, role, a.table, "aggregate relationship")
      where2 <- a.where match {
        case Some(w) =>
          secureWhere(w, role, policy, perm, a.table).map(Some(_))
        case None => Right(None)
      }
    } yield a.copy(where = andWith(perm.filter, where2))

  /** q140's policy — the README's "grant select on part of the
    * schema" scenario as metadata: the analyst sees only BUILDING
    * customers (row filter), a restricted column set, and only OPEN
    * orders through any relationship. */
  val q140Policy: Policy = Policy(Map(
    ("analyst", "customer") -> TablePerm(
      filter = Some(Eq("c_mktsegment", "BUILDING")),
      columns = Some(Set("c_custkey", "c_name", "c_acctbal",
        "c_mktsegment"))),
    ("analyst", "orders") -> TablePerm(
      filter = Some(Eq("o_orderstatus", "O")))))

  /** q140 — the role-scoped read: the request asks for positive-balance
    * customers with their order counts; the ANALYST role's grants AND
    * the segment filter into the root and the open-status filter into
    * the aggregate relationship, so the served answer is the
    * INTERSECTION of request and grant — exactly what the oracle
    * replays with both predicates inlined. */
  def q140RoleScopedRead(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val req = Request(
      table = "customer",
      fields = Seq("c_custkey", "c_name"),
      where = Some(Gt("c_acctbal", 0.0)),
      orderBy = Seq(Order("c_custkey")),
      limit = Some(200),
      aggRels = Seq(AggRel("orders", "o_custkey", "c_custkey",
        Seq(CountOf("o_orderkey", "n_open")))))
    secure(req, "analyst", q140Policy) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q140 request failed the policy: $m")
    }
  }

  /** q195 — ordering by an aggregate of a ROW-FILTERED table (the
    * capability the r14 guard denied): the analyst's customers order
    * by their count of orders, and the role's `o_orderstatus = 'O'`
    * grant on orders threads into the hidden ordering aggregate —
    * Hasura computes the ordering value over the rows the role can
    * see. An engine counting the RAW child table (or still denying
    * the order) fails the oracle on row placement. */
  def q195FilteredOrderAgg(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val doc =
      """{
        |  customer(order_by: [{orders_aggregate: {count: desc}},
        |                      {c_custkey: asc}],
        |           limit: 100) {
        |    c_custkey c_name
        |  }
        |}""".stripMargin
    serveAs(s, dir, "analyst", q140Policy, doc).fold(
      m => throw new IllegalStateException(s"q195 denied: $m"),
      identity)
  }

  /** Serve an INTROSPECTION document AS a role — Hasura's per-role
    * schema: every client browses exactly the surface its role can
    * query, so the advertised and the servable schema cannot drift.
    * The tracked metadata narrows BEFORE the meta model builds:
    *  - tables without a grant vanish (their types, their query_root/
    *    mutation_root fields, and every relationship touching them);
    *  - columns outside the role's allowlist vanish from the type;
    *  - `<t>_by_pk` (and the mutation verbs) vanish when the tracked
    *    key column itself is ungranted — a by_pk argument on an
    *    invisible column would advertise an equality oracle.
    * Row filters do NOT alter the schema (Hasura's behavior — they
    * gate rows, not shape). */
  def serveIntrospectionAs(s: org.apache.spark.sql.SparkSession,
      dir: String, role: String, policy: Policy, query: String,
      schema: GraphQl.Schema = GraphQl.fixtureSchema,
      tables: Seq[String] = graft.Tables.names)
      : Either[String, String] = {
    val granted = tables
      .flatMap(t => policy.get(role, t).toOption.map(t -> _)).toMap
    val tables2 = tables.filter(granted.contains)
    def colOk(t: String, c: String): Boolean =
      granted.get(t).exists(_.columns.forall(_.contains(c)))
    // a relationship is advertisable only when BOTH join-key columns
    // sit inside the allowlists — secure() checks the parent key at
    // the parent and the child key at the child, so a relationship
    // surviving on table grants alone would advertise a field every
    // request through it gets denied (the drift this serve exists to
    // prevent); same reasoning as by_pk's key-column gate
    def relOk(pt: String, r: GraphQl.Rel): Boolean =
      granted.contains(pt) && granted.contains(r.childTable) &&
        colOk(pt, r.parentKey) && colOk(r.childTable, r.childKey)
    val schema2 = GraphQl.Schema(
      schema.rels.filter { case ((pt, _), r) => relOk(pt, r) },
      schema.keys.filter { case (t, ks) =>
        granted.contains(t) && ks.forall(colOk(t, _)) },
      schema.objRels.filter { case ((pt, _), r) => relOk(pt, r) })
    val columns2 = granted.collect {
      case (t, perm) if perm.columns.isDefined => t -> perm.columns.get
    }
    GraphQl.serveIntrospection(s, dir, query, schema2, tables2, columns2)
  }

  /** [[serveAggregateAs]] for aggregate documents arriving as TEXT —
    * completing the text-serving matrix (read [[serveAs]], stream
    * [[serveStreamAs]], write [[serveMutationsAs]], aggregate here):
    * `{ <t>_aggregate(where: ...) { aggregate { ... } } }` parses,
    * secures for the role (relationship-predicate filters
    * decorrelate), and serves. Parse errors and denials are Left. */
  def serveAggregateTextAs(s: org.apache.spark.sql.SparkSession,
      dir: String, role: String, policy: Policy, doc: String,
      variables: String = "{}")
      : Either[String, org.apache.spark.sql.DataFrame] =
    for {
      req <- GraphQl.parseRootAggregate(doc, variables)
      df <- serveAggregateAs(s, dir, role, policy, req)
    } yield df

  /** q175 — ROLE-SCOPED introspection under the oracle gate: the
    * analyst's view of the schema ([[serveIntrospectionAs]] with
    * [[q140Policy]] — customer narrowed to its 4-column allowlist,
    * orders unrestricted, every other table ungranted and absent),
    * flattened through the q167 shape. The DuckDB oracle reflects
    * `information_schema.columns` with the SAME grants inlined — an
    * engine advertising an ungranted table or column hash-fails. */
  def q175RoleScopedIntrospection(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    GraphQl.introspectionTypeRows(s,
      serveIntrospectionAs(s, dir, "analyst", q140Policy,
        GraphQl.q167Query).fold(
        m => throw new IllegalStateException(s"q175 denied: $m"),
        identity))

  /** q174 — an aggregate served under a role whose row filter carries
    * a RELATIONSHIP predicate ([[serveAggregateAs]] — the surface
    * [[secureAggregate]]'s row-local guard denies): the auditor sees
    * only customers WITH an open order, the request narrows to
    * BUILDING, and the count/sum fold over the decorrelated visible
    * set. The oracle inlines both as native EXISTS + equality — an
    * engine aggregating unfiltered rows (or decorrelating wrongly)
    * hash-fails on the numbers. */
  def q174AggregateRelFilter(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val pol = Policy(Map(("auditor", "customer") -> TablePerm(
      filter = Some(RelPred("orders", "o_custkey", "c_custkey",
        Eq("o_orderstatus", "O"))))))
    val req = QueryBuilder.AggRequest("customer",
      where = Some(Eq("c_mktsegment", "BUILDING")),
      aggs = Seq(CountOf("c_custkey", "n_cust"),
        SumOf("c_acctbal", "bal_sum")))
    serveAggregateAs(s, dir, "auditor", pol, req).fold(
      m => throw new IllegalStateException(s"q174 denied: $m"),
      identity)
  }

  /** q221 — a ROLE-SCOPED mixed multi-root document under the oracle
    * gate (r18): one subscription batches a `_stream` root with a
    * read, served through [[serveRootsAs]] as a role whose grants
    * carry ROW FILTERS on both tables — the stream delivers only the
    * role's visible events (the filter ANDs into the cursor scan, the
    * document itself has no where) and the read only the role's
    * visible customers. DuckDB inlines both grants: an engine
    * streaming unfiltered rows, paging before filtering, or leaking
    * out-of-grant customers hash-fails. */
  def q221RoleScopedMixedRoots(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val pol = Policy(Map(
      ("tail", "events") -> TablePerm(
        filter = Some(Eq("event_type", "click"))),
      ("tail", "customer") -> TablePerm(
        filter = Some(Eq("c_mktsegment", "BUILDING")),
        columns = Some(Set("c_custkey", "c_name", "c_mktsegment")))))
    val doc =
      """subscription {
        |  ev: events_stream(
        |    cursor: {initial_value: {event_id: 3000}, ordering: ASC},
        |    batch_size: 7) { event_id user_id }
        |  c: customer(order_by: [{c_custkey: asc}], limit: 5) {
        |    c_custkey c_name }
        |}""".stripMargin
    serveRootsAs(s, dir, "tail", pol, doc).fold(
        m => throw new IllegalStateException(s"q221 denied: $m"),
        identity)
      .map { case (k, df) =>
        df.select(lit(k).as("root"),
          to_json(struct(df.columns.map(col).toIndexedSeq: _*),
            QueryBuilder.jsonOpts).as("row_json"))
      }.reduce(_.unionAll(_)).orderBy("root", "row_json")
  }

  /** q230 — role-scoped COMPOSITE by_pk (r19): a multi-root batch of
    * (l_orderkey, l_linenumber) point lookups under a row-filtered
    * grant — the role filter ANDs into each composite key equality
    * through the same secure() rewrite as scalar keys, so an
    * in-grant tuple serves its row and an out-of-grant tuple answers
    * ZERO rows (Hasura's by_pk-under-row-filter null, never a
    * denial). The oracle replays both lookups with the filter
    * inlined; an engine that dropped the role filter from the by_pk
    * arm (or filtered on one key component) hash-fails. */
  def q230RoleScopedCompositeByPk(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val pol = Policy(Map(
      ("picker", "lineitem") -> TablePerm(
        filter = Some(Eq("l_returnflag", "R")),
        columns = Some(Set("l_orderkey", "l_linenumber",
          "l_suppkey", "l_returnflag")))))
    val doc =
      """{
        |  a: lineitem_by_pk(l_orderkey: 1, l_linenumber: 3) {
        |    l_orderkey l_linenumber sk: l_suppkey
        |  }
        |  b: lineitem_by_pk(l_orderkey: 3, l_linenumber: 4) {
        |    l_orderkey l_linenumber sk: l_suppkey
        |  }
        |}""".stripMargin
    serveRootsAs(s, dir, "picker", pol, doc,
        schema = GraphQl.compositeSchema).fold(
        m => throw new IllegalStateException(s"q230 denied: $m"),
        identity)
      .map { case (k, df) =>
        df.select(lit(k).as("root"),
          to_json(struct(df.columns.map(col).toIndexedSeq: _*),
            QueryBuilder.jsonOpts).as("row_json"))
      }.reduce(_.unionAll(_)).orderBy("root", "row_json")
  }

  /** q171 — the role-scoped WRITE round-trip ([[serveMutationsAs]]
    * under the oracle gate, the q124 pattern secured): mutation TEXT
    * asks to boost every NEGATIVE balance; the writer role's row
    * filter (`c_mktsegment = 'BUILDING'`) ANDs into the update scope,
    * so only BUILDING rows mutate — the returning frame (the served
    * response) is the INTERSECTION at post-increment balances, which
    * the oracle replays with both predicates inlined. An engine that
    * applied the request unfiltered (or filtered the returning but
    * not the write) hash-fails on the extra/missing rows. */
  def q171RoleScopedMutation(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val path = s"/root/repo/target/tmp/q171_store_" +
      s.sparkContext.applicationId
    graft.sources.SnapshotStore.write(
      graft.Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal"), path)
    val doc =
      """mutation {
        |  update_customer(where: {c_acctbal: {_lt: 0.0}},
        |                  _inc: {c_acctbal: 1000.0}) {
        |    affected_rows
        |    returning { c_custkey c_acctbal }
        |  }
        |}""".stripMargin
    val results = serveMutationsAs(s, "analyst", q140Policy, doc,
      Map("customer" -> ((path, Seq("c_custkey"))))).fold(
      m => throw new IllegalStateException(s"q171 denied: $m"),
      identity)
    results.head.returning.getOrElse(throw new IllegalStateException(
        "q171: the update declared returning"))
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
      .orderBy("c_custkey")
  }

  /** Serve GraphQL text AS a role — the full Hasura request path:
    * parse against the tracked schema, rewrite through the role's
    * grants, run. Parse errors and permission denials both come back
    * as Left values (the endpoint's error payload, never an
    * exception). */
  def serveAs(s: org.apache.spark.sql.SparkSession, dir: String,
      role: String, policy: Policy, query: String,
      schema: GraphQl.Schema = GraphQl.fixtureSchema,
      variables: String = "{}",
      operationName: Option[String] = None)
      : Either[String, org.apache.spark.sql.DataFrame] =
    for {
      req <- GraphQl.parse(query, schema, variables, operationName)
      sec <- secure(req, role, policy)
    } yield QueryBuilder.run(s, dir, sec)

  /** [[serveAs]] for MULTI-ROOT documents (r17): every root secures
    * independently through the same [[secure]]; ONE denied root
    * denies the whole document (Hasura answers batched queries
    * all-or-nothing — a partial answer would silently hide the denied
    * root from a client that asked for it). */
  def serveRootsAs(s: org.apache.spark.sql.SparkSession, dir: String,
      role: String, policy: Policy, query: String,
      schema: GraphQl.Schema = GraphQl.fixtureSchema,
      variables: String = "{}",
      operationName: Option[String] = None)
      : Either[String, Seq[(String, org.apache.spark.sql.DataFrame)]] =
    for {
      roots <- GraphQl.parseRoots(query, schema, variables,
        operationName)
      secured <- sequence(roots.map { case (k, op) =>
        secureRoot(op, role, policy).map(k -> _) })
    } yield GraphQl.runRoots(s, dir, secured)

  /** Secure one parsed root for `role` through its kind's rewrite. */
  private def secureRoot(op: GraphQl.RootOp, role: String,
      policy: Policy): Either[String, GraphQl.RootOp] = op match {
    case GraphQl.ReadRoot(r) => secure(r, role, policy).map(GraphQl.ReadRoot)
    case GraphQl.AggRoot(r) =>
      secureAggregate(r, role, policy).map(GraphQl.AggRoot)
    // by_pk roots are reads with the key-equality where: the role's row
    // filter ANDs in through the same rewrite (a point lookup outside
    // the grant answers zero rows, never leaks)
    case GraphQl.ByPkRoot(r) => secure(r, role, policy).map(GraphQl.ByPkRoot)
    // a batched `_stream` root secures like the one-root stream
    // surface; a RelPred row grant denies here the same way (the
    // dedicated serveStreamAs overloads serve those roles)
    case GraphQl.StreamRoot(sr) =>
      secureStream(sr, role, policy).map(GraphQl.StreamRoot)
  }

  /** [[serveAs]] for STREAMING subscription documents: parse the
    * `<table>_stream` text, secure it for the role, and serve the
    * BATCH-replay pages over `base` — the live path takes the same
    * secured request into `Subscriptions.streamServe`, so one
    * secure() covers both. Denials and parse errors are Left values.
    *
    * This overload takes an ALREADY-LOADED base and so cannot build
    * relationship key sets: a role whose row filter carries a
    * RELATIONSHIP predicate is denied HERE (a clean Left, never a
    * first-trigger crash) — the (s, dir) overload and
    * [[serveStreamLiveAs]] SERVE such roles by decorrelating the
    * satisfying-key set per serve, Hasura's grant surface. */
  def serveStreamAs(base: org.apache.spark.sql.DataFrame, role: String,
      policy: Policy, doc: String, nPages: Int,
      schema: GraphQl.Schema = GraphQl.fixtureSchema,
      variables: String = "{}")
      : Either[String, org.apache.spark.sql.DataFrame] =
    for {
      sr <- GraphQl.parseStream(doc, schema, variables)
      sec <- secureStream(sr, role, policy)
      // relationship selections load child tables from the table
      // directory this overload does not have — a clean Left, never
      // a serve-time crash (the (s, dir) overload serves them)
      _ <- if (sec.nested.nonEmpty)
        Left(s"${sec.table}_stream: relationship selections need " +
          "the table directory — use the (s, dir) serveStreamAs " +
          "overload")
      else Right(())
    } yield Subscriptions.streamPages(base, sec, nPages)

  /** q184 — a `_stream` subscription served under a role whose row
    * filter carries a RELATIONSHIP predicate (the surface
    * [[secureStream]]'s row-local guard denies): the auditor sees
    * only events whose user is a BUILDING customer, decorrelated to a
    * pinned key set + flag join per serve, then the q145-style cursor
    * replay pages the visible rows. The oracle inlines the grant as a
    * native EXISTS inside the same row_number paging — an engine
    * streaming unfiltered rows (or paging before filtering)
    * hash-fails on row placement. */
  def q184StreamRelFilter(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val pol = Policy(Map(
      ("auditor", "events") -> TablePerm(
        filter = Some(RelPred("customer", "c_custkey", "user_id",
          Eq("c_mktsegment", "BUILDING")))),
      ("auditor", "customer") -> TablePerm()))
    val doc =
      """subscription {
        |  events_stream(
        |    cursor: {initial_value: {event_id: 3000}, ordering: ASC},
        |    batch_size: 7,
        |    where: {event_type: {_eq: "click"}}) {
        |    event_id user_id value
        |  }
        |}""".stripMargin
    serveStreamAs(s, dir, "auditor", pol, doc, nPages = 3,
      GraphQl.fixtureSchema, "{}", None).fold(
      m => throw new IllegalStateException(s"q184 denied: $m"),
      identity)
  }

  /** q193 — q184's LIVE twin under the oracle gate: the SAME
    * RelPred-filtered role serves through [[serveStreamLiveAs]]'s
    * actual streaming fold ([[Subscriptions.streamServe]] — cursor
    * advance, dedup, page cut), fed a deterministic bounded replay
    * (the first 200 post-cursor click events, one trigger, so the
    * live page numbering equals the oracle's flat row_number cut).
    * q184 pins the batch-replay serve path; this pins the one serving
    * path the gate couldn't see — an engine whose LIVE fold filters
    * after paging, drops the key-set flag join, or mis-numbers pages
    * hash-fails here even with q184 green. */
  def q193StreamLiveRelFilter(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val pol = Policy(Map(
      ("auditor", "events") -> TablePerm(
        filter = Some(RelPred("customer", "c_custkey", "user_id",
          Eq("c_mktsegment", "BUILDING")))),
      ("auditor", "customer") -> TablePerm()))
    val doc =
      """subscription {
        |  events_stream(
        |    cursor: {initial_value: {event_id: 3000}, ordering: ASC},
        |    batch_size: 7,
        |    where: {event_type: {_eq: "click"}}) {
        |    event_id user_id value
        |  }
        |}""".stripMargin
    // deterministic bounded feed: the first 200 qualifying events by
    // cursor order (event_id is unique, so the slice is exact on both
    // engines); the serve re-applies the where and cursor itself
    val feed = graft.Tables.load(s, dir, "events")
      .filter(col("event_id") > 3000 && col("event_type") === "click")
      .orderBy("event_id").limit(200)
      .select("event_id", "user_id", "value", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).toSeq
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Double, String)]
    val pushed = scala.collection.mutable
      .ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val query = serveStreamLiveAs(s, dir,
      input.toDF().toDF("event_id", "user_id", "value", "event_type"),
      "auditor", pol, doc) { (_, df) =>
      // materialize before the fold's state advances
      pushed += df.localCheckpoint(true); ()
    }.fold(m => throw new IllegalStateException(s"q193 denied: $m"),
      identity)
    try {
      input.addData(feed)
      query.processAllAvailable()
    } finally query.stop()
    // a granted serve over an EMPTY feed (sf0.001 has no events past
    // the cursor) legitimately triggers nothing — answer the empty
    // page set; "pushed nothing on a non-empty feed" stays loud (the
    // broken-serve signal this require exists for)
    require(pushed.nonEmpty || feed.isEmpty,
      "q193: the live serve pushed no pages")
    if (pushed.isEmpty)
      Seq.empty[(Long, Long, Long, Double)]
        .toDF("batch_idx", "event_id", "user_id", "value")
    else pushed.reduce(_.unionByName(_))
  }

  /** Serve mutation TEXT as a role — the WRITE half of [[serveAs]],
    * closing the last serve loop (read [[serveAs]], stream
    * [[serveStreamAs]], write here): parse the document
    * ([[GraphQl.parseMutationFields]] — by_pk verbs, returning,
    * on_conflict, nested inserts, update_many), rewrite every field
    * through the role's grants ([[secureFields]] — row filters AND
    * into update/delete scopes incl. the by_pk spellings, inserts
    * check-clause against the filter, out-of-grant columns reject),
    * then apply over the store registry. Parse errors and denials are
    * Left values; NOTHING applies on a denial (secureFields validates
    * the WHOLE document before the first store rewrite — Hasura's
    * request-level atomicity for permission errors). */
  def serveMutationsAs(s: org.apache.spark.sql.SparkSession,
      role: String, policy: Policy, doc: String,
      stores: Map[String, (String, Seq[String])],
      schema: GraphQl.Schema = GraphQl.fixtureSchema,
      variables: String = "{}",
      operationName: Option[String] = None)
      : Either[String, Seq[Mutations.FieldResult]] =
    for {
      fields <- GraphQl.parseMutationFields(doc, variables, schema,
        operationName)
      sec <- secureFields(fields, role, policy)
      // relationship returning keeps the FULL affected rows in its
      // FieldResult (the renderReturning contract) — handing those to
      // a role-scoped caller would leak ungranted columns, and this
      // path has no table dir to attach relationships from. Refuse
      // rather than leak: serve the shape by composing secureFields →
      // applyFieldsToStore → GraphQl.renderReturning(s, dir, ...).
      _ <-
        if (sec.exists(_.retNested.nonEmpty))
          Left("relationship returning is not served on the " +
            "store-registry path (full-row frames would leak " +
            "ungranted columns) — apply secureFields, run the " +
            "mutation, then GraphQl.renderReturning(s, dir, field, " +
            "result)")
        else Right(())
    } yield Mutations.applyFieldsToStores(s, stores, sec)

  /** Grant checks + filter merge for an aggregate request, WITHOUT
    * the row-local guard — shared by [[secureAggregate]] (which adds
    * it, for runAggregate callers) and [[serveAggregateAs]] (which
    * decorrelates relationship predicates instead). */
  private def mergedAggregate(r: QueryBuilder.AggRequest, role: String,
      policy: Policy): Either[String, QueryBuilder.AggRequest] =
    for {
      perm <- policy.get(role, r.table)
      _ <- checkCols(r.aggs.flatMap(aggCols) ++ r.nodes ++
        r.orderBy.map(_.field) ++ r.where.toSeq.flatMap(whereCols),
        perm, role, r.table, "aggregate request")
      w2 <- r.where match {
        case Some(w) =>
          secureWhere(w, role, policy, perm, r.table).map(Some(_))
        case None => Right(None)
      }
    } yield r.copy(where = andWith(perm.filter, w2))

  /** Secure a ROOT-AGGREGATE request: the role's row filter ANDs into
    * the where (an unfiltered count/sum over invisible rows would
    * LEAK them as numbers), and every referenced column — aggregated,
    * nodes, ordering, filtering — must be granted. */
  def secureAggregate(r: QueryBuilder.AggRequest, role: String,
      policy: Policy): Either[String, QueryBuilder.AggRequest] =
    for {
      m <- mergedAggregate(r, role, policy)
      // runAggregate applies the where via toColumn — a relationship
      // predicate (legal in role filters for the run() path, which
      // decorrelates) has no row-local form there: deny HERE, not as
      // a first-execution crash. [[serveAggregateAs]] serves these.
      _ <- if (m.where.exists(QueryBuilder.hasRelPred))
        Left(s"role '$role': the effective aggregate filter carries " +
          "a relationship predicate — not servable by runAggregate " +
          "(serveAggregateAs decorrelates it)")
      else Right(())
    } yield m

  /** Serve a root-aggregate request AS a role — the [[serveAs]] loop
    * for the `<table>_aggregate` surface, CLOSING the capability gap
    * [[secureAggregate]]'s row-local guard left: a role filter (or
    * request where) carrying RELATIONSHIP predicates decorrelates
    * exactly like run() — each EXISTS becomes a distinct-satisfying-
    * child-keys build + one left-join flag — so Hasura's
    * filter-with-relationship grants serve aggregates here too. The
    * visible row set materializes per serve (the key-set joins are
    * AQE-broadcastable; nothing driver-sized), then the aggregate
    * folds over it row-locally. */
  def serveAggregateAs(s: org.apache.spark.sql.SparkSession,
      dir: String, role: String, policy: Policy,
      r: QueryBuilder.AggRequest)
      : Either[String, org.apache.spark.sql.DataFrame] =
    mergedAggregate(r, role, policy).map { m =>
      val base = graft.Tables.load(s, dir, m.table)
      m.where match {
        case Some(w) if QueryBuilder.hasRelPred(w) =>
          val (df, w2) = QueryBuilder.decorrelate(s, dir, base, w,
            new java.util.concurrent.atomic.AtomicInteger())
          // flag columns served their filter — the aggregate sees the
          // base schema only
          val visible = df.filter(w2.toColumn)
            .select(base.columns.map(org.apache.spark.sql
              .functions.col).toSeq: _*)
          QueryBuilder.runAggregateOn(visible, m.copy(where = None))
        case _ => QueryBuilder.runAggregateOn(base, m)
      }
    }

  /** Grant checks + filter merge for a stream subscription, WITHOUT
    * the row-local guard — shared by [[secureStream]] (which adds it,
    * for callers driving the executors directly) and the
    * (s, dir) [[serveStreamAs]]/[[serveStreamLiveAs]] overloads
    * (which decorrelate relationship predicates instead). */
  private def mergedStream(sr: Subscriptions.StreamRequest, role: String,
      policy: Policy): Either[String, Subscriptions.StreamRequest] =
    for {
      perm <- policy.get(role, sr.table)
      _ <- checkCols(sr.fields.map(f => sr.fieldAs.getOrElse(f, f)) ++
        sr.cursorFields ++
        sr.nested.map(_.parentKey) ++
        sr.where.toSeq.flatMap(whereCols),
        perm, role, sr.table, "stream subscription")
      w2 <- sr.where match {
        case Some(w) =>
          secureWhere(w, role, policy, perm, sr.table).map(Some(_))
        case None => Right(None)
      }
      // relationship selections secure like a read's (the secureNested
      // contract): every level gains its grant's filter, a denied
      // level denies the subscription
      nested2 <- secureNestedSeq(sr.nested, role, policy)
    } yield sr.copy(where = andWith(perm.filter, w2), nested = nested2)

  /** Secure a STREAMING subscription: the filter ANDs into the cursor
    * scan (compiled predicates reach the streaming source), and the
    * selected fields AND the cursor column must be granted — a
    * cursor on an ungranted column would leak its values through
    * page boundaries. */
  def secureStream(sr: Subscriptions.StreamRequest, role: String,
      policy: Policy): Either[String, Subscriptions.StreamRequest] =
    for {
      m <- mergedStream(sr, role, policy)
      // same guard as secureAggregate: the stream executors evaluate
      // the where row-locally — a relationship predicate would kill
      // the streaming query at its first trigger instead. The
      // (s, dir) serveStreamAs/serveStreamLiveAs overloads SERVE such
      // roles by decorrelating the key set per serve.
      _ <- if (m.where.exists(QueryBuilder.hasRelPred))
        Left(s"role '$role': the effective stream filter carries a " +
          "relationship predicate — not servable row-locally over a " +
          "cursor scan (the (s, dir) serveStreamAs overload " +
          "decorrelates it)")
      else Right(())
    } yield m

  /** Decorrelate a stream filter's RELATIONSHIP predicates at SERVE
    * time — the q174 aggregate machinery applied to the stream
    * surface: each RelPred materializes its DISTINCT satisfying
    * parent-key set once, PINNED for the life of the serve
    * (localCheckpoint — the documented staleness contract: child rows
    * arriving after the serve starts do not flip visibility
    * mid-stream, matching the cursor scan's own no-retraction
    * semantics; re-subscribe to refresh), and the base left-joins it
    * as a flag column the rewritten where reads row-locally — a
    * stream-static join each trigger pays on the already-filtered
    * delta, never a per-trigger child-table re-aggregation.
    *
    * Returns the flag-join transform (streaming OR batch base) and
    * the rewritten row-local where tree. Scale: one distinct-key
    * aggregation per predicate at serve start; the pinned key set
    * partitions like any dimension side (AQE broadcasts selective
    * ones). */
  private def decorrelateStreamFilter(
      s: org.apache.spark.sql.SparkSession, dir: String, w: BoolExp)
      : (org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
         BoolExp) = {
    // ONE walk definition with run()'s machinery
    // (QueryBuilder.decorrelateJoins) — only the deltas live here:
    // key sets PIN per serve (the staleness contract) and the flag
    // joins defer into a transform the caller applies to a batch OR
    // streaming base
    val (joins, w2) = QueryBuilder.decorrelateJoins(s, dir, w,
      new java.util.concurrent.atomic.AtomicInteger(), pin = true)
    (df => joins.foldLeft(df) { case (d, (keys, pk)) =>
      d.join(keys, Seq(pk), "left") }, w2)
  }

  /** [[serveStreamAs]] WITH the table directory — closes the stream
    * half of the capability gap [[secureStream]]'s row-local guard
    * leaves (Hasura grants permission filters with relationship
    * predicates on subscriptions, README.md:56-80): a RelPred role
    * filter decorrelates per serve ([[decorrelateStreamFilter]] — the
    * pinned-key-set contract) and the BATCH-replay pages serve over
    * the flag-joined base. Parse errors and denials stay Left. */
  def serveStreamAs(s: org.apache.spark.sql.SparkSession, dir: String,
      role: String, policy: Policy, doc: String, nPages: Int,
      schema: GraphQl.Schema, variables: String,
      operationName: Option[String])
      : Either[String, org.apache.spark.sql.DataFrame] =
    for {
      sr <- GraphQl.parseStream(doc, schema, variables, operationName)
      m <- mergedStream(sr, role, policy)
    } yield m.where match {
      case Some(w) if QueryBuilder.hasRelPred(w) =>
        val (flagJoin, w2) = decorrelateStreamFilter(s, dir, w)
        Subscriptions.streamPages(
          flagJoin(graft.Tables.load(s, dir, m.table)),
          m.copy(where = Some(w2)), nPages, rel = Some((s, dir)))
      case _ => Subscriptions.streamPages(
        graft.Tables.load(s, dir, m.table), m, nPages,
        rel = Some((s, dir)))
    }

  /** The LIVE twin of the (s, dir) [[serveStreamAs]]: the secured —
    * and, for RelPred roles, decorrelated — request drives
    * [[Subscriptions.streamServe]] over `stream`, the key-set flags
    * riding a stream-static join per trigger. Same pinned-key
    * staleness contract (spec-pinned: a child row arriving after the
    * serve starts does not flip visibility until re-subscribe). */
  def serveStreamLiveAs(s: org.apache.spark.sql.SparkSession,
      dir: String, stream: org.apache.spark.sql.DataFrame, role: String,
      policy: Policy, doc: String,
      schema: GraphQl.Schema = GraphQl.fixtureSchema,
      variables: String = "{}",
      operationName: Option[String] = None)
      (push: (Long, org.apache.spark.sql.DataFrame) => Unit)
      : Either[String, org.apache.spark.sql.streaming.StreamingQuery] =
    for {
      sr <- GraphQl.parseStream(doc, schema, variables, operationName)
      m <- mergedStream(sr, role, policy)
    } yield m.where match {
      case Some(w) if QueryBuilder.hasRelPred(w) =>
        val (flagJoin, w2) = decorrelateStreamFilter(s, dir, w)
        Subscriptions.streamServe(flagJoin(stream),
          m.copy(where = Some(w2)), rel = Some((s, dir)))(push)
      case _ =>
        Subscriptions.streamServe(stream, m, rel = Some((s, dir)))(push)
    }

  /** Guard a mutation document for `role`: updates/deletes gain the
    * role's row filter (rows outside it are INVISIBLE to the write,
    * Hasura's permission-filter semantics — affected_rows shrinks
    * accordingly, no error), inserts and returning selections are
    * column-checked. */
  def secureFields(fields: Seq[Mutations.Field], role: String,
      policy: Policy): Either[String, Seq[Mutations.Field]] = {
    def secureMutation(m: Mutations.Mutation)
        : Either[String, Mutations.Mutation] = m match {
      case Mutations.Insert(t, rows, up, uc, cw) =>
        for {
          perm <- policy.get(role, t)
          _ <- checkCols(rows.flatMap(_.map(_._1)).distinct ++
            uc.getOrElse(Nil) ++ cw.toSeq.flatMap(whereCols),
            perm, role, t, "insert")
          // Hasura's insert CHECK clause: every inserted row must
          // satisfy the role's row filter — otherwise a role could
          // create rows it can never see (or, worse, that other
          // roles' filters were counting on)
          _ <- perm.filter match {
            case None => Right(())
            case Some(flt) => sequence(rows.map { r =>
              evalLiteral(flt, r.toMap).flatMap {
                case true => Right(())
                case false => Left(s"role '$role': inserted row " +
                  s"violates the '$t' row filter (check clause)")
              }
            }).map(_ => ())
          }
          // an upsert/on_conflict may OVERWRITE a stored row, which
          // needs the update scope; that scope is the row filter,
          // and whether the STORED row satisfies it is unknowable
          // here — reject rather than let an invisible row be
          // rewritten (plain inserts still clash loudly on existing
          // keys, so nothing is silently lost)
          _ <-
            if ((up || uc.isDefined) && perm.filter.isDefined)
              Left(s"role '$role': upsert/on_conflict on " +
                s"row-filtered table '$t' could overwrite rows " +
                "outside the filter — use update for visible rows")
            else Right(())
        } yield Mutations.Insert(t, rows, up, uc, cw)
      case Mutations.Update(t, w, set, inc, jsonb) =>
        for {
          perm <- policy.get(role, t)
          // jsonb-operator targets are written columns too — an
          // ungranted column can no more be _append-ed than _set
          _ <- checkCols(set.map(_._1) ++ inc.map(_._1) ++
            jsonb.map(_._1) ++ whereCols(w),
            perm, role, t, "update")
          w2 <- secureWhere(w, role, policy, perm, t)
        } yield Mutations.Update(t,
          andWith(perm.filter, Some(w2)).get, set, inc, jsonb)
      case Mutations.Delete(t, w) =>
        for {
          perm <- policy.get(role, t)
          _ <- checkCols(whereCols(w), perm, role, t, "delete")
          w2 <- secureWhere(w, role, policy, perm, t)
        } yield Mutations.Delete(t,
          andWith(perm.filter, Some(w2)).get)
      // the composite verbs secure member-wise: every step/child is
      // its own grant check against ITS table (an InsertTree's
      // children target the CHILD table's scope)
      case Mutations.UpdateMany(t, steps) =>
        sequence(steps.map(secureMutation)).map(ss =>
          Mutations.UpdateMany(t,
            ss.map(_.asInstanceOf[Mutations.Update])))
      case Mutations.InsertTree(p, cs, bs) =>
        // recursion covers arbitrary depth: every subtree node —
        // array- AND object-relationship side — re-enters this match
        // and pays its own (role, table) grant check
        for {
          p2 <- secureMutation(p)
          bs2 <- sequence(bs.map(secureMutation))
          cs2 <- sequence(cs.map(secureMutation))
        } yield Mutations.InsertTree(
          p2.asInstanceOf[Mutations.Insert], cs2, bs2)
    }
    sequence(fields.map { f =>
      for {
        perm <- policy.get(role, f.m.table)
        // returning entries are RESPONSE keys — grant-check the
        // SOURCE column behind each alias (the read surface's rule:
        // an alias must not smuggle a denied column out)
        _ <- f.returning match {
          case Some(cols) =>
            checkCols(cols.map(c => f.returningAs.getOrElse(c, c)),
              perm, role, f.m.table, "returning")
          case None => Right(())
        }
        // relationship selections on the returned rows secure exactly
        // like a read's (per-level grants + row filters, fail-closed)
        nested2 <- secureNestedSeq(f.retNested, role, policy)
        m2 <- secureMutation(f.m)
      } yield f.copy(m = m2, retNested = nested2)
    })
  }
}
