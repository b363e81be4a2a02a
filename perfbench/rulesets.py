"""The benchmark's own rulesets.

``BENCH_SML`` is a byte-for-byte copy of the program's 40-feature
``osprey_spark.rulesets.BENCH_SML``, kept here so that a change to the
program's ruleset cannot change the workload. ``THIN_SML`` is a thin
stateless ruleset whose projection is nearly free, so the state pass
dominates. ``STATE_SML`` adds the fused stateful families: two
``IncrementWindow`` counters and a ``SequenceMatches`` pattern on one key,
which the compiler resolves in a single ``applyInPandasWithState`` pass.
"""

BENCH_SML = r"""
ConvId: Entity[str] = EntityJson(type='ConvId', path='$.conv_id')
Role: str = JsonData(path='$.role')
TurnIdx: int = JsonData(path='$.turn_idx')
TurnText: str = JsonData(path='$.text')
ToolName: Optional[str] = JsonData(path='$.tool', required=False)

TextLower = StringToLower(s=TurnText)
TextLen = StringLength(s=TurnText)
Tokens = StringSplit(s=TextLower, sep=' ')
NumTokens = ListLength(list=Tokens)
MeanTokenLen = TextLen / NumTokens
TextMd5 = HashMd5(s=TextLower)
TextSha256 = HashSha256(s=TurnText)
ContentKey = HashSha1(s=TextLower)

Urls = StringExtractURLs(s=TurnText)
NumUrls = ListLength(list=Urls)
Domains = StringExtractDomains(s=TurnText)
NumDomains = ListLength(list=Domains)
HasUrl = NumUrls > 0
HasSpamDomain = 'spam.example.com' in Domains
HasShortener = RegexMatch(target=TextLower, pattern='(bit\.ly|tinyurl\.com|t\.co)/')

HasEmail = RegexMatch(target=TurnText, pattern='[\w.+-]+@[\w-]+\.[\w.]+')
HasPhone = RegexMatch(target=TurnText, pattern='\+?[0-9][0-9 ()\-]{7,}[0-9]')
HasInvite = RegexMatch(target=TextLower, pattern='(discord\.gg|t\.me/|join my)')
HasShout = RegexMatch(target=TurnText, pattern='\b[A-Z]{5,}\b')
HasRepeatChars = RegexMatch(target=TurnText, pattern='(.)\1{4,}')
HasHello = 'hello' in TextLower
MentionsMoney = RegexMatch(target=TextLower, pattern='(free money|\$[0-9]+|crypto|giveaway)')

IsToolTurn = Role == 'tool'
IsAssistant = Role == 'assistant'
IsUser = Role == 'user'
LongText = TextLen > 60
ShortText = TextLen < 8
ManyTokens = NumTokens >= 12
DeepTurn = TurnIdx >= 20

Cohort = Experiment(entity=ConvId, buckets=['control', 'treatment'], name='bench', version=1)

SpamLinkRule = Rule(
    when_all=[HasUrl, HasSpamDomain],
    description='link to a known spam domain')
ShortenerRule = Rule(
    when_all=[HasShortener, IsUser],
    description='user posted a link shortener')
ContactScrapeRule = Rule(
    when_all=[HasEmail, HasPhone],
    description='email + phone in one turn')
InviteSpamRule = Rule(
    when_all=[HasInvite, ManyTokens],
    description='wordy invite spam')
ShoutingRule = Rule(
    when_all=[HasShout, LongText],
    description='sustained shouting')
RepeatFloodRule = Rule(
    when_all=[HasRepeatChars, ShortText],
    description='character flood')
MoneySpamRule = Rule(
    when_all=[MentionsMoney, HasUrl],
    description='money bait with a link')
ToolChatterRule = Rule(
    when_all=[IsToolTurn, ManyTokens],
    description='wordy tool turn')
DeepSpamRule = Rule(
    when_all=[DeepTurn, MentionsMoney],
    description='late-conversation money bait')
HelloRule = Rule(when_all=[HasHello], description='says hello')

WhenRules(
    rules_any=[SpamLinkRule, ShortenerRule, InviteSpamRule, MoneySpamRule],
    then=[DeclareVerdict(verdict='spam'),
          LabelAdd(entity=ConvId, label='spam_suspect')])
WhenRules(
    rules_any=[ContactScrapeRule],
    then=[DeclareVerdict(verdict='scrape'),
          LabelAdd(entity=ConvId, label='scraper')])
WhenRules(
    rules_any=[ShoutingRule, RepeatFloodRule, ToolChatterRule, DeepSpamRule],
    then=[DeclareVerdict(verdict='review')])
WhenRules(
    rules_any=[HelloRule],
    then=[DeclareVerdict(verdict='hello')])
"""


THIN_SML = r"""
ConvId: Entity[str] = EntityJson(type='ConvId', path='$.conv_id')
Role: str = JsonData(path='$.role')
TurnIdx: int = JsonData(path='$.turn_idx')
IsToolTurn = Role == 'tool'
DeepTurn = TurnIdx >= 20
DeepToolRule = Rule(when_all=[IsToolTurn, DeepTurn], description='deep tool turn')
WhenRules(rules_any=[DeepToolRule], then=[DeclareVerdict(verdict='review')])
"""

STATE_SML = r"""
WcKey: str = JsonData(path='$.conv_id')
TurnRate = IncrementWindow(key=WcKey, window_seconds=600.0)
HourRate = IncrementWindow(key=WcKey, window_seconds=3600.0)
RoleSym: str = JsonData(path='$.role')
ToolLoop = SequenceMatches(key=WcKey, symbol=RoleSym, pattern='tooltool', last_k=24)
BurstConv = TurnRate >= 8
BurstRule = Rule(when_all=[BurstConv], description='bursty conversation')
ToolLoopRule = Rule(when_all=[ToolLoop], description='tool turn repeats')
WhenRules(rules_any=[BurstRule, ToolLoopRule], then=[DeclareVerdict(verdict='burst')])
"""

# the stateful features each workload's output check compares
STATE_FEATURES = ("TurnRate", "HourRate", "ToolLoop")
